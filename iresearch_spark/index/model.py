"""The inverted index as DataFrames.

The reference's on-disk segment (term dictionary + postings + norms +
columnstore, `core/formats/`) maps to four Spark tables:

  postings    one row per (term, 128-doc posting block):
              term, block_id, n_docs, first_doc, last_doc,
              docs BINARY        delta-gap varint, freq==1 flag in low bit
                                 (formats_10.cpp:692-706 equivalent)
              dls BINARY         per-posting doc length (norm), varint —
                                 co-located so scoring needs NO join
                                 (reference reads norms from the
                                 columnstore per segment, norm.hpp:75-125)
              positions BINARY   per-occurrence position deltas
                                 (formats_10.cpp:893-932 equivalent)
              block_max_freq     per-block max term freq   } block-max
              block_min_dl       per-block min doc length  } WAND data
                                 (wand_writer.hpp:137-300 equivalent)
  docs        doc_id, dl (+ passthrough identity columns)
  term_stats  term, df (docs_with_term), cf (total term freq)
  field_stats a tiny dict {n_docs, total_term_freq, avg_dl}
              (the reference's FieldCollector output, bm25.cpp:366-410)

`block_id` is the block's first_doc, so within each term it orders
blocks by doc-id range: posting blocks concatenate into a sorted
posting list without any further sort (merge = union + optional
re-blocking, see merge.py).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field
from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from iresearch_spark.index.codec import decode_batch_arrays

POSTINGS_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("block_id", T.LongType(), False),
        T.StructField("n_docs", T.IntegerType(), False),
        T.StructField("first_doc", T.LongType(), False),
        T.StructField("last_doc", T.LongType(), False),
        T.StructField("docs", T.BinaryType(), False),
        T.StructField("dls", T.BinaryType(), False),
        T.StructField("positions", T.BinaryType(), True),
        T.StructField("block_max_freq", T.IntegerType(), False),
        T.StructField("block_min_dl", T.IntegerType(), False),
        # per-block total term frequency — lets term_stats (df, cf) be
        # aggregated from block rows without touching token rows
        T.StructField("block_cf", T.LongType(), False),
        # per-occurrence character spans (reference IndexFeatures OFFS,
        # index_features.hpp:50-57): start deltas / lengths, varint —
        # null unless the index was built with_offsets
        T.StructField("off_starts", T.BinaryType(), True),
        T.StructField("off_lens", T.BinaryType(), True),
        # per-occurrence payload bytes (reference IndexFeatures PAY,
        # index_features.hpp:40-58; payload stream formats_10.cpp:
        # 714-765): varint lengths + concatenated bytes — null unless
        # the index was built with a payload source
        T.StructField("pay_lens", T.BinaryType(), True),
        T.StructField("pay_bytes", T.BinaryType(), True),
        # per-block (tf, dl) impact pairs — Lucene-style block-max
        # impacts (one pair per power-of-two dl class): a per-doc
        # partial score is bounded by max over pairs of g(tf, dl),
        # which is far tighter than g(block_max_freq, block_min_dl)
        # when a block mixes short docs with high-tf docs. Nullable:
        # pre-round-5 indexes lack it and WAND falls back to the
        # (max_freq, min_dl) bound.
        T.StructField(
            "block_impacts",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("tf", T.IntegerType(), False),
                        T.StructField("dl", T.IntegerType(), False),
                    ]
                )
            ),
            True,
        ),
    ]
)

DECODED_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("freq", T.IntegerType(), False),
        T.StructField("dl", T.IntegerType(), False),
    ]
)

DECODED_POS_SCHEMA = T.StructType(
    DECODED_SCHEMA.fields
    + [T.StructField("positions", T.ArrayType(T.IntegerType()), True)]
)

_OFFSET_FIELDS = [
    T.StructField("off_starts", T.ArrayType(T.IntegerType()), True),
    T.StructField("off_lens", T.ArrayType(T.IntegerType()), True),
]

_PAYLOAD_FIELD = [
    T.StructField("payloads", T.ArrayType(T.BinaryType()), True),
]


@dataclass
class FieldStats:
    """Index-wide stats used by scorers (reference FieldCollector)."""

    n_docs: int
    total_term_freq: int
    # max doc length across the index — the reference's Norm2 encoding
    # choice (norm.hpp Norm2Header: max <= 255 packs norms into one
    # byte, selecting the kNorm2Tiny scorer path, bm25.cpp:464-476).
    # None = unknown (old manifests); computed lazily when float32
    # parity mode needs it
    max_dl: int | None = None

    @property
    def avg_dl(self) -> float:
        return self.total_term_freq / self.n_docs if self.n_docs else 0.0


# the config every segment of a merged multi-segment view must share,
# with the value a manifest that omits the key stands for
SEGMENT_CONFIG_DEFAULTS = {
    "with_positions": False,
    "with_offsets": False,
    "with_payloads": False,
    "analyzer": None,
    "norm": "norm2",
}


def check_segments_agree(manifests: list[dict], action: str) -> None:
    """Raise unless every segment manifest carries the same feature /
    analyzer / norm config (the contract merge_indexes enforces): a
    silent mismatch would drop positions/offsets or mix incompatible
    token streams in one postings union. A missing key counts as its
    default, so an older manifest that omits `norm` agrees with an
    explicit "norm2"."""
    for key, default in SEGMENT_CONFIG_DEFAULTS.items():
        vals = {m.get(key, default) for m in manifests}
        if len(vals) > 1:
            raise ValueError(
                f"segments disagree on {key!r}: {sorted(map(str, vals))}; "
                f"consolidate or rebuild before {action} a merged view"
            )


@dataclass
class InvertedIndex:
    postings: DataFrame
    docs: DataFrame
    term_stats: DataFrame
    field_stats: FieldStats
    with_positions: bool = True
    analyzer_name: str = "simple"
    # per-occurrence character offsets stored (IndexFeatures OFFS)
    with_offsets: bool = False
    # per-occurrence payload bytes stored (IndexFeatures PAY)
    with_payloads: bool = False
    # norm variant the index was built with: "norm2" (dl as int — the
    # reference's Norm2, norm.hpp:71+) or "legacy" (the old-style Norm,
    # norm.hpp:46-70: 1/sqrt(dl) stored as float32 in docs.norm;
    # scorers then use tf = sqrt(freq), |doc| = sqrt(dl))
    norm: str = "norm2"
    # delete mask (reference: per-segment deleted-docs bitset applied at
    # read time, index_writer.hpp:376-411; stats stay stale until a
    # consolidation purges the postings — same semantics here)
    deleted: DataFrame | None = None
    # the cached raw block DataFrame the tables above derive from (set
    # by build_index) — kept so unpersist() can actually free it
    blocks: DataFrame | None = None
    # term hash-bucket partition count(s) of a SAVED index (None for
    # an in-memory one): postings live under _tb=crc32(term)%B dirs, so
    # a query that knows its exact terms prunes whole directories at
    # plan time — the Spark-native analogue of the reference's FST
    # term-dictionary seek (formats_burst_trie.cpp:953-966). A merged
    # multi-segment view may carry a LIST of bucket counts (one per
    # distinct segment layout): the pruning filter then includes each
    # term's bucket under EVERY count, which over-includes but never
    # drops a matching file.
    term_buckets: int | list[int] | None = None
    # term-dictionary block index of a SAVED index: [(file_path,
    # min_term, max_term)] for the range-partitioned, term-sorted
    # term_stats files — the analogue of the reference burst-trie's
    # per-block term ranges (formats_burst_trie.cpp:953-966). Lets
    # Prefix/Range (and literal-prefix Wildcard / prefixed Fuzzy)
    # expansion read only the files whose [min, max] intersects the
    # query's term interval instead of scanning the whole vocabulary.
    # On an Iceberg deployment this map IS the table's file manifest —
    # the same pruning falls out of min/max column stats.
    term_stats_ranges: list | None = None
    # granular numeric term dictionary (reference numeric_token_stream
    # + by_granular_range — see index/numeric.py): (field, shift,
    # prefix, doc_id) rows, written sorted by (field, shift, prefix) so
    # a range query's per-level BETWEENs prune row groups. None when
    # the index was built without numeric_fields (GranularRange then
    # falls back to the stored docs column when present).
    num_terms: DataFrame | None = None
    # {field: "long" | "double"} — the query-bound sortable mapping
    numeric_meta: dict | None = None
    # trie granularity step (64 = single level, the Spark default;
    # reference PRECISION_STEP_DEF = 16)
    precision_step: int = 64
    # SORTED index (the reference's Comparer, core/index/comparer.hpp:
    # index_writer laid out in comparator order, merge_writer remaps via
    # a comparator-aware doc map): doc_id order == (sort_field asc|desc,
    # sort_key) order. None = unsorted (hash-bucket key order).
    sort_field: str | None = None
    sort_ascending: bool = True
    # SAVED sorted index: per-file [path, min_doc, max_doc, rows] of
    # the doc-id-range-partitioned docs table, sorted by min_doc —
    # top_docs reads only the head files covering k rows
    docs_ranges: list | None = None
    # True on a merged multi-segment view (streaming/incremental.read):
    # the term_stats files then hold each segment's dictionary, a term
    # repeating once PER SEGMENT with segment-local df/cf, so every
    # pruned accessor must re-aggregate (sum df — doc ids are disjoint
    # across segments) before handing rows to callers. A single saved
    # index has unique rows carrying the global stats and skips that
    # shuffle.
    per_segment_dictionary: bool = False
    # counts the build already has, so save() never re-counts a table
    # (None when unknown): posting-block rows and the docs table's
    # [min, max] doc id. A loaded index carries n_blocks from its
    # manifest.
    n_blocks: int | None = None
    doc_span: tuple[int, int] | None = None
    # (k, the dictionary's k least distinct (crc32(term), term) pairs,
    # ascending; fewer than k: every term), as a build's or a
    # consolidation's summary pass found them: save() cuts the
    # dictionary files from them
    term_sample: tuple[int, list[tuple[int, str]]] | None = None
    # the dictionary's (term, df, cf) rows before the per-term sum, and
    # how often a term can repeat in them: a merged view's per-segment
    # rows (once per segment) or a build's posting-block rows (None: once
    # per block). save() sums them inside its one range exchange; a
    # merged view draws its sample from them without the sum's shuffle
    term_rows: tuple[DataFrame, int | None] | None = None
    # the commit's per-partition lineage rows (builder.METRICS_FIELDS),
    # as a build's or a consolidation's summary pass found them
    metrics: list[tuple] | None = None

    def _agg_stats(self, df: DataFrame) -> DataFrame:
        """Collapse per-segment dictionary rows to global stats (sum
        df/cf per term) on merged views; identity on a single index."""
        if not self.per_segment_dictionary:
            return df
        return _sum_stats(df, "term")

    def pruned_term_stats(
        self,
        lo: str | None = None,
        hi: str | None = None,
        hi_inclusive: bool = True,
    ) -> tuple[DataFrame, int | None, int | None]:
        """term_stats narrowed to the saved files whose [min_term,
        max_term] intersects [lo, hi] — the FST term-dictionary seek for
        multi-term expansion (returns (df, files_selected, files_total);
        counts are None for an in-memory index, where the full
        DataFrame is the only choice). Never drops a matching term:
        selection is by file min/max overlap, the caller still applies
        its exact predicate."""
        ranges = self.term_stats_ranges
        if not ranges:
            return self.term_stats, None, None
        sel = [
            p
            for (p, mn, mx) in ranges
            if (lo is None or mx >= lo)
            and (
                hi is None
                or (mn <= hi if hi_inclusive else mn < hi)
            )
        ]
        total = len(ranges)
        if len(sel) == total:
            return self.term_stats, total, total
        spark = self.term_stats.sparkSession
        if not sel:
            return (
                spark.createDataFrame([], self.term_stats.schema),
                0,
                total,
            )
        return self._read_dictionary(sel), len(sel), total

    def term_stats_for_terms(self, terms: list[str]) -> DataFrame:
        """term_stats narrowed to the dictionary files that can hold the
        given exact terms (binary search over the sorted per-file term
        ranges — the per-term FST seek). Falls back to the full table
        for an in-memory index. On a merged multi-segment view the
        concatenated ranges OVERLAP (one interval set per segment), so
        selection is a linear intersection scan and the per-segment
        rows are re-aggregated to global stats."""
        ranges = self.term_stats_ranges
        if not ranges or not terms:
            return self.term_stats
        sel: set[str] = set()
        if self.per_segment_dictionary:
            # overlapping per-segment intervals: point-in-interval scan
            # (driver-side, O(terms x files) over tiny lists)
            for t in terms:
                for p, mn, mx in ranges:
                    if mn <= t <= mx:
                        sel.add(p)
        else:
            import bisect

            mins = [mn for (_, mn, _) in ranges]  # ranges sorted by min
            for t in terms:
                i = bisect.bisect_right(mins, t) - 1
                if i >= 0 and ranges[i][1] <= t <= ranges[i][2]:
                    sel.add(ranges[i][0])
        spark = self.term_stats.sparkSession
        if not sel:
            return spark.createDataFrame([], self.term_stats.schema)
        if len(sel) == len(ranges):
            return self.term_stats
        return self._read_dictionary(sorted(sel))

    def _read_dictionary(self, files: list[str]) -> DataFrame:
        """term_stats rows of the given saved dictionary files, read
        with the table's schema (no schema-inference job; on a merged
        view the unaggregated rows' schema) and summed per term on a
        merged view."""
        rows = (self.term_rows or (self.term_stats, 1))[0]
        read = self.term_stats.sparkSession.read.schema(rows.schema)
        return self._agg_stats(read.parquet(*files))

    def postings_for_terms(self, terms: list[str]) -> DataFrame:
        """Postings scan narrowed to the given exact terms: directory
        (partition) pruning via the _tb bucket column when available,
        plus the term predicate (parquet row-group pruning)."""
        df = self.postings
        if self.term_buckets and terms:
            import zlib

            counts = (
                [self.term_buckets]
                if isinstance(self.term_buckets, int)
                else list(self.term_buckets)
            )
            buckets = sorted(
                {
                    zlib.crc32(t.encode("utf-8")) % b
                    for t in terms
                    for b in counts
                }
            )
            df = df.filter(F.col("_tb").isin(buckets))
        return df.filter(F.col("term").isin(list(terms)))

    def unpersist(self) -> "InvertedIndex":
        for df in (self.postings, self.docs, self.term_stats,
                   self.blocks, self.deleted, self.num_terms):
            if df is not None:
                try:
                    df.unpersist()
                except Exception:
                    pass
        return self

    def delete_docs(self, doc_ids: DataFrame) -> "InvertedIndex":
        """Mark docs deleted (doc_ids: DataFrame with a doc_id column).
        Queries exclude them immediately; postings/stats are rewritten
        only by merge.purge_deleted (the reference's consolidate)."""
        import dataclasses

        mask = doc_ids.select("doc_id").distinct()
        if self.deleted is not None:
            mask = self.deleted.unionByName(mask).distinct()
        return dataclasses.replace(self, deleted=mask)

    # ---- decode paths ----------------------------------------------------

    def decoded_postings(
        self,
        terms: list[str] | None = None,
        with_positions: bool = False,
        with_offsets: bool = False,
        with_payloads: bool = False,
    ) -> DataFrame:
        """Posting blocks -> (term, doc_id, freq, dl[, positions]
        [, off_starts, off_lens]) rows.

        The term filter is a pushed-down parquet predicate (check
        `PushedFilters` in .explain); decode is one `mapInArrow` pass —
        numpy cumsum per block, no per-row Python.
        """
        if terms is not None:
            # spread the (small) filtered block set across the cluster
            # before decoding: a hot term's blocks live in ONE bucket
            # file, so without this the decode of millions of postings
            # runs in a single task. The shuffle moves only the term's
            # packed blobs (KBs..MBs), the decode then parallelizes.
            df = self.postings_for_terms(list(terms)).repartition(
                self.postings.sparkSession.sparkContext.defaultParallelism
            )
        else:
            df = self.postings
        want_pos = with_positions and self.with_positions
        want_offs = with_offsets and self.with_offsets
        want_pay = with_payloads and self.with_payloads
        # ship ONLY what the decoder reads — the JVM->Python transfer is
        # the dominant query-path cost (measured 2x on full rows)
        cols = ["term", "n_docs", "docs", "dls"]
        if want_pos:
            cols.append("positions")
        if want_offs:
            cols.extend(["off_starts", "off_lens"])
        if want_pay:
            cols.extend(["pay_lens", "pay_bytes"])
        df = df.select(*cols)
        schema = DECODED_POS_SCHEMA if want_pos else DECODED_SCHEMA
        if want_offs:
            schema = T.StructType(schema.fields + _OFFSET_FIELDS)
        if want_pay:
            schema = T.StructType(schema.fields + _PAYLOAD_FIELD)
        return df.mapInArrow(
            _make_block_decoder(want_pos, want_offs, want_pay), schema
        )

    # ---- persistence -----------------------------------------------------

    def save(
        self,
        path: str,
        mode: str = "overwrite",
        optimize_layout: bool = True,
        encryption=None,
    ) -> None:
        """Write the index tables + manifest.

        Layout mirrors an Iceberg-table-per-component design (the target
        deployment per BASELINE.json); in this sandbox we write parquet
        dirs plus a JSON manifest committed last, giving the same
        atomic-visibility property as the reference's two-phase
        `Begin()`/`Commit()` (`core/index/index_writer.hpp:540-560`):
        readers only see an index whose manifest exists.

        With optimize_layout the postings are range-partitioned and
        sorted by term before writing: parquet min/max term statistics
        become tight per file/row-group, so a query's term predicate
        prunes whole files at scan time — the Spark-native equivalent of
        the reference's FST term-dictionary seek
        (`formats_burst_trie.cpp:953-966`).

        The term dictionary is one table, as in the reference: the
        term-sorted `term_stats/`, written in one pass as the
        reference's flush writes each segment's dictionary. Its rows
        are summed per term from `term_rows` (a build's posting-block
        rows, a merged view's per-segment rows) inside the one exchange
        that cuts its files. The file boundaries come from the
        dictionary's least (crc32(term), term) pairs
        (`dictionary_sample`): a fresh build's or a consolidation's
        summary pass already holds them, another loaded or merged index
        draws them in one job.

        With `encryption=` (an index.encryption.IndexEncryption) every
        table is written with Parquet Modular Encryption — pages AND
        footers AES-GCM-sealed — the Spark-native analogue of the
        reference's directory-level cipher (`irs::encryption`,
        core/store/directory_attributes.hpp:32-65). Plaintext term
        ranges are then kept OUT of the manifest (they would leak the
        vocabulary); keyed scans still prune at row-group level from
        the decrypted footer statistics.
        """
        wopts = {}
        if encryption is not None:
            encryption.apply(self.postings.sparkSession)
            wopts = encryption.write_options()
        postings = self.postings
        for c in ("_tb", "_tbd"):  # re-saving a loaded index
            if c in postings.columns:
                postings = postings.drop(c)
        term_buckets = None
        docs_ranges = None
        n_blocks = self.n_blocks
        # each table's schema as a parquet read returns it: load() reads
        # with it instead of running a schema-inference job per table
        schemas = {"docs": self.docs.schema}
        if optimize_layout:
            # ~2M block rows per bucket keeps files O(100MB); min 16
            # buckets so exact-term queries prune to <=1/16 of the
            # index even when it is small
            if n_blocks is None:
                n_blocks = postings.count()
            n_part = max(1, min(
                postings.rdd.getNumPartitions(), (n_blocks // 2_000_000) + 1
            ))
            term_buckets = max(16, n_part)
            postings = (
                postings.withColumn(
                    "_tb",
                    F.pmod(
                        F.crc32(F.col("term").cast("binary")),
                        F.lit(term_buckets),
                    ).cast("int"),
                )
                # _tbd duplicates the bucket INSIDE the data files:
                # partitionBy strips _tb from the data, and a flat
                # multi-segment read (recursiveFileLookup, no partition
                # discovery) would otherwise lose bucket pruning —
                # streaming/incremental.read renames _tbd back to _tb.
                # Cost: one constant int per file, RLE'd to ~nothing.
                .withColumn("_tbd", F.col("_tb"))
                .repartition(term_buckets, "_tb")
                # _tb leads: partitionBy("_tb") sorts by it, and keeps
                # the inner order only when the rows already are
                .sortWithinPartitions("_tb", "term", "block_id")
            )
            # partition discovery appends the _tb directory column
            data = postings.drop("_tb").schema
            schemas["postings"] = T.StructType(
                data.fields + [postings.schema["_tb"]]
            )
        else:
            n_part = max(self.postings.rdd.getNumPartitions(), 1)
            schemas["postings"] = postings.schema
        ts_path = os.path.join(path, "term_stats")
        term_stats_ranges = None
        schemas["term_stats"] = self.term_stats.schema
        if optimize_layout:
            # term dictionary: range-partitioned and sorted by term, so
            # each file covers one contiguous term interval; the
            # per-file [min, max] manifest map is the burst-trie block
            # index (formats_burst_trie.cpp:953-966) that lets Prefix/
            # Range expansion seek instead of scanning the vocabulary.
            # ~2M terms per file keeps dictionaries O(10MB); min 16
            # files so even small indexes demonstrate pruning.
            most_files = max(16, n_part * 4)
            k = 64 * most_files
            drawn, pairs = self.dictionary_sample(k)
            n_terms = _n_terms(pairs, drawn)
            sample = [t for _, t in pairs[:k]]
            ts_files = max(16, min(n_part * 4, (n_terms // 2_000_000) + 16))
            # file boundaries are quantiles of one deterministic term
            # sample, so the dictionary files are identical run to run
            fwd_bounds = _split_keys(sample, ts_files)

            def _w_postings():
                postings.write.options(**wopts).mode(mode).partitionBy("_tb").parquet(
                    os.path.join(path, "postings")
                )

            def _w_docs():
                if self.sort_field is not None:
                    # SORTED index: docs written in doc-id order across
                    # disjoint file ranges, so "first k in sort order"
                    # (top_docs) reads only the head files — the
                    # distributed analogue of the reference's in-order
                    # segment iteration stopping at k. Files cut the
                    # doc-id span into equal id ranges, so they are
                    # identical run to run.
                    n_files = max(16, n_part)
                    lo, hi = self.doc_span or _doc_span(self.docs)
                    fid = F.expr(
                        f"cast((doc_id - {lo}) * {n_files}"
                        f" div {hi - lo + 1} as int)"
                    )
                    (
                        self.docs.repartitionById(n_files, fid)
                        .sortWithinPartitions("doc_id")
                        .write.options(**wopts).mode(mode)
                        .parquet(os.path.join(path, "docs"))
                    )
                else:
                    self.docs.coalesce(n_part).write.options(**wopts).mode(mode).parquet(
                        os.path.join(path, "docs")
                    )

            def _w_fwd():
                self._dictionary_by_range(fwd_bounds, ts_files).write.options(
                    **wopts
                ).mode(mode).parquet(ts_path)

            writers = [_w_fwd, _w_postings, _w_docs]
            if self.num_terms is not None:

                def _w_num():
                    # numeric term dictionary: sorted by (field, shift,
                    # prefix) so each per-level BETWEEN of a granular
                    # range decomposition reads only the row groups
                    # whose min/max prefix intersects it; file
                    # boundaries are quantiles of a deterministic
                    # sample (the rows of least hash), so the files are
                    # identical run to run
                    key = ("field", "shift", "prefix")
                    n_files = max(16, n_part)
                    sample = _least_hashed(
                        self.num_terms, F.xxhash64(*key), key, 64 * n_files
                    )
                    bounds = _split_keys([r[1:] for r in sample], n_files)
                    (
                        _by_range(self.num_terms, key, bounds, n_files)
                        .sortWithinPartitions(*key)
                        .write.options(**wopts).mode(mode)
                        .parquet(os.path.join(path, "num_terms"))
                    )

                writers.append(_w_num)
            # the table writes are independent jobs over distinct
            # output dirs — submit them concurrently (Spark's scheduler
            # interleaves jobs from multiple driver threads), so the
            # wall-clock is the longest write, not the sum
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=len(writers)) as ex:
                for fut in [ex.submit(f) for f in writers]:
                    fut.result()
            # an encrypted index keeps its per-file TERM ranges out of
            # manifest.json: they are plaintext vocabulary, and sealing
            # the dictionary files is the point. Keyed scans still
            # prune at row-group level from the decrypted footer
            # statistics.
            if encryption is None:
                (ranges,) = _file_ranges(
                    self.term_stats.sparkSession, path,
                    {"term_stats": ("term", "VARCHAR")},
                ).values()
                term_stats_ranges = [r[:3] for r in ranges]
            if self.sort_field is not None:
                (docs_ranges,) = _file_ranges(
                    self.docs.sparkSession, path, {"docs": ("doc_id", "BIGINT")}
                ).values()
                docs_ranges.sort(key=lambda r: r[1])
        else:
            postings.write.options(**wopts).mode(mode).parquet(os.path.join(path, "postings"))
            self.docs.coalesce(n_part).write.options(**wopts).mode(mode).parquet(
                os.path.join(path, "docs")
            )
            self.term_stats.coalesce(n_part).write.options(**wopts).mode(mode).parquet(ts_path)
            if self.num_terms is not None:
                self.num_terms.write.options(**wopts).mode(mode).parquet(
                    os.path.join(path, "num_terms")
                )
        if self.num_terms is not None:
            schemas["num_terms"] = self.num_terms.schema
        if self.deleted is not None:
            self.deleted.write.options(**wopts).mode(mode).parquet(os.path.join(path, "deleted"))
            schemas["deleted"] = self.deleted.schema
        manifest = {
            "version": 1,
            "n_docs": self.field_stats.n_docs,
            "total_term_freq": self.field_stats.total_term_freq,
            "with_positions": self.with_positions,
            "with_offsets": self.with_offsets,
            "with_payloads": self.with_payloads,
            "analyzer": self.analyzer_name,
            "norm": self.norm,
            "max_dl": self.field_stats.max_dl,
            "has_deleted": self.deleted is not None,
            "term_buckets": term_buckets,
            "term_stats_ranges": term_stats_ranges,
            # bucket id also present as the _tbd data column (flat
            # multi-segment reads rely on it; absent in old segments)
            "tb_data_col": term_buckets is not None,
            "numeric_meta": self.numeric_meta,
            "precision_step": self.precision_step,
            "sort_field": self.sort_field,
            "sort_ascending": self.sort_ascending,
            # per-file [min_doc, max_doc, rows] of the doc-id-range-
            # partitioned docs table (sorted indexes only): top_docs
            # reads just the head files covering its k
            "docs_ranges": docs_ranges,
            # names only (KMS class + master-key NAME), never key bytes
            "encryption": (
                encryption.manifest_record() if encryption else None
            ),
            # posting-block rows (None if never counted) and each
            # table's read schema: column names and types only
            "n_blocks": n_blocks,
            "schemas": {
                name: _as_read(sch).jsonValue() for name, sch in schemas.items()
            },
        }
        tmp = os.path.join(path, "_manifest.json.tmp")
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, os.path.join(path, "manifest.json"))  # atomic commit

    def _dictionary_by_range(self, bounds: list[str], n: int) -> DataFrame:
        """The term dictionary as save() writes it: n term-sorted
        partitions split at `bounds`. The per-term sum of `term_rows`
        groups on the range id as well, so it runs over the range
        exchange's partitioning: one shuffle (grouping on the term
        alone would add a hash exchange)."""
        rows = (self.term_rows or (self.term_stats, 1))[0]
        rid = _range_id([F.col("term")], [(b,) for b in bounds])
        return (
            _sum_stats(
                rows.withColumn("_rid", rid).repartitionById(n, F.col("_rid")),
                "_rid", "term",
            )
            .drop("_rid")
            .sortWithinPartitions("term")
        )

    def dictionary_sample(self, k: int) -> tuple[int, list[tuple[int, str]]]:
        """(k', the dictionary's k' least distinct (crc32(term), term)
        pairs, ascending; fewer than k' pairs: every term), k' >= k.
        A fresh build or a consolidation answers from its summary pass
        (builder.block_summary); a loaded or merged index draws the
        pairs in one TakeOrdered job over its unaggregated dictionary
        rows (the summed table when a term repeats once per block)."""
        if self.term_sample is not None and self.term_sample[0] >= k:
            return self.term_sample
        rows, dup = self.term_rows or (self.term_stats, 1)
        if dup is None:
            rows, dup = self.term_stats, 1
        # a term repeats at most dup times: k * dup rows hold k terms
        least = _least_hashed(
            rows, F.crc32(F.col("term").cast("binary")), ("term",), k * dup
        )
        return k, list(dict.fromkeys(least))[:k]

    # ------------------------------------------------ snapshot commits

    def save_snapshot(self, path: str, **save_kw) -> int:
        """Iceberg-style snapshot commit (the BASELINE.json design
        point, exercised without the iceberg-spark-runtime jar): each
        commit writes a NEW immutable data version under `path/v{N}`
        (the full save() layout, itself manifest-atomic), appends a
        record to `snapshots.json`, and finally swaps the top-level
        `manifest.json` pointer — readers always see a complete
        snapshot, never a partial write, and every previous version
        stays readable via load(..., snapshot_id=) until
        expire_snapshots drops it. Returns the new snapshot id."""
        import time as _time

        os.makedirs(path, exist_ok=True)
        snaps = self._read_snapshot_log(path)
        sid = (max((s["id"] for s in snaps), default=0)) + 1
        data_dir = os.path.join(path, f"v{sid}")
        self.save(data_dir, mode="overwrite", **save_kw)
        snaps.append(
            {
                "id": sid,
                "committed_at": _time.strftime(
                    "%Y-%m-%dT%H:%M:%SZ", _time.gmtime()
                ),
                "n_docs": self.field_stats.n_docs,
                "data_dir": f"v{sid}",
            }
        )
        tmp = os.path.join(path, "_snapshots.json.tmp")
        with open(tmp, "w") as f:
            json.dump(snaps, f)
        os.replace(tmp, os.path.join(path, "snapshots.json"))
        # publish: the pointer swap is the commit
        tmp = os.path.join(path, "_manifest.json.tmp")
        with open(tmp, "w") as f:
            json.dump({"snapshot_pointer": sid}, f)
        os.replace(tmp, os.path.join(path, "manifest.json"))
        return sid

    @staticmethod
    def _read_snapshot_log(path: str) -> list:
        p = os.path.join(path, "snapshots.json")
        if not os.path.exists(p):
            return []
        with open(p) as f:
            return json.load(f)

    @staticmethod
    def snapshots(path: str) -> list:
        """The snapshot log (id, committed_at, n_docs, data_dir)."""
        return InvertedIndex._read_snapshot_log(path)

    @staticmethod
    def expire_snapshots(path: str, keep_last: int = 1) -> list[int]:
        """Drop all but the newest `keep_last` snapshots (their data
        dirs deleted, the log rewritten). The current pointer's
        snapshot is always kept. Returns the expired ids."""
        import shutil

        snaps = InvertedIndex._read_snapshot_log(path)
        if not snaps:
            return []
        with open(os.path.join(path, "manifest.json")) as f:
            current = json.load(f).get("snapshot_pointer")
        snaps.sort(key=lambda s: s["id"])
        keep = {s["id"] for s in snaps[-max(keep_last, 1):]}
        if current is not None:
            keep.add(current)
        expired = []
        kept = []
        for s in snaps:
            if s["id"] in keep:
                kept.append(s)
                continue
            shutil.rmtree(os.path.join(path, s["data_dir"]),
                          ignore_errors=True)
            expired.append(s["id"])
        tmp = os.path.join(path, "_snapshots.json.tmp")
        with open(tmp, "w") as f:
            json.dump(kept, f)
        os.replace(tmp, os.path.join(path, "snapshots.json"))
        return expired

    @classmethod
    def load(
        cls,
        spark: SparkSession,
        path: str,
        snapshot_id: int | None = None,
        encryption=None,
    ) -> "InvertedIndex":
        with open(os.path.join(path, "manifest.json")) as f:
            manifest = json.load(f)
        if "snapshot_pointer" in manifest:
            # snapshot-committed index: follow the pointer (or time-
            # travel to an explicit snapshot id)
            sid = snapshot_id if snapshot_id is not None else manifest[
                "snapshot_pointer"
            ]
            snaps = {s["id"]: s for s in cls._read_snapshot_log(path)}
            if sid not in snaps:
                raise ValueError(
                    f"snapshot {sid} not in log (have {sorted(snaps)})"
                )
            return cls.load(
                spark,
                os.path.join(path, snaps[sid]["data_dir"]),
                encryption=encryption,
            )
        if snapshot_id is not None:
            raise ValueError("index was not saved with save_snapshot")
        enc_rec = manifest.get("encryption")
        if enc_rec and encryption is None:
            raise ValueError(
                "index is encrypted (footer key "
                f"{enc_rec.get('footer_key')!r} via "
                f"{enc_rec.get('kms_client_class')}): pass encryption= "
                "with the master keys to load it"
            )
        if encryption is not None:
            encryption.apply(spark)
        schemas = manifest.get("schemas") or {}

        def _read(name):
            return read_parquet(spark, os.path.join(path, name), schemas.get(name))

        postings = _read("postings")
        if "block_impacts" not in postings.columns:
            # pre-round-5 index: no impacts column — null-fill so every
            # consumer sees one schema (WAND then uses the loose bound)
            postings = postings.withColumn(
                "block_impacts",
                F.lit(None).cast("array<struct<tf:int,dl:int>>"),
            )
        return cls(
            postings=postings,
            docs=_read("docs"),
            term_stats=_read("term_stats"),
            field_stats=FieldStats(
                n_docs=manifest["n_docs"],
                total_term_freq=manifest["total_term_freq"],
                max_dl=manifest.get("max_dl"),
            ),
            with_positions=manifest["with_positions"],
            with_offsets=manifest.get("with_offsets", False),
            with_payloads=manifest.get("with_payloads", False),
            norm=manifest.get("norm", "norm2"),
            analyzer_name=manifest["analyzer"],
            deleted=(
                _read("deleted")
                if manifest.get("has_deleted")
                else None
            ),
            term_buckets=manifest.get("term_buckets"),
            term_stats_ranges=(
                [
                    (os.path.join(path, f), mn, mx)
                    for f, mn, mx in manifest["term_stats_ranges"]
                ]
                if manifest.get("term_stats_ranges")
                else None
            ),
            num_terms=(
                _read("num_terms")
                if manifest.get("numeric_meta")
                else None
            ),
            numeric_meta=manifest.get("numeric_meta"),
            precision_step=manifest.get("precision_step", 64),
            sort_field=manifest.get("sort_field"),
            sort_ascending=manifest.get("sort_ascending", True),
            docs_ranges=(
                [
                    (os.path.join(path, f), mn, mx, n)
                    for f, mn, mx, n in manifest["docs_ranges"]
                ]
                if manifest.get("docs_ranges")
                else None
            ),
            n_blocks=manifest.get("n_blocks"),
        )

    def cache(self) -> "InvertedIndex":
        """Cache the tables every query reads: the delete mask too, as
        every shard scan of an index with deletes reads it."""
        for df in (self.postings, self.docs, self.term_stats, self.deleted):
            if df is not None:
                df.cache()
        return self


# ---- save(): driver-chosen file boundaries, read schemas --------------


def block_dictionary(postings: DataFrame):
    """(term_stats, term_rows) of posting-block rows: the per-term sum
    of df = n_docs and cf = block_cf, and the unsummed rows it is taken
    over, which save() sums inside its range exchange instead."""
    rows = postings.select(
        "term", F.col("n_docs").alias("df"), F.col("block_cf").alias("cf")
    )
    return _sum_stats(rows, "term"), (rows, None)


def _sum_stats(df: DataFrame, *keys: str) -> DataFrame:
    """Dictionary rows summed per `keys`: df, and cf where present."""
    aggs = [F.sum("df").alias("df")]
    if "cf" in df.columns:
        aggs.append(F.sum("cf").alias("cf"))
    return df.groupBy(*keys).agg(*aggs)


def _as_read(dt: T.DataType) -> T.DataType:
    """`dt` as a parquet read returns it: Spark writes every column,
    element and value as nullable."""
    if isinstance(dt, T.StructType):
        return T.StructType([
            T.StructField(f.name, _as_read(f.dataType), True, f.metadata)
            for f in dt.fields
        ])
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_as_read(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_as_read(dt.keyType), _as_read(dt.valueType), True)
    return dt


def read_parquet(spark: SparkSession, paths, schema: dict | None = None,
                 **options) -> DataFrame:
    """spark.read.parquet with a manifest's recorded schema (JSON), so
    the read plans without a schema-inference job; infers when the
    manifest predates the record (None)."""
    r = spark.read.options(**options)
    if schema is not None:
        r = r.schema(T.StructType.fromJson(schema))
    return r.parquet(*([paths] if isinstance(paths, str) else paths))


def _file_ranges(spark: SparkSession, path: str, keys: dict) -> dict:
    """{table: [(data file relative to path, min, max, rows)], sorted}
    of each table's key column (keys: {table: (column, SQL type)}):
    the per-file block index of a range-partitioned table, like the
    reference burst-trie's per-block term ranges
    (formats_burst_trie.cpp:953-966).

    Fast path: the parquet FOOTER statistics, read driver-side — no
    data scan, exactly what an Iceberg manifest provides for free.
    Parquet writers may truncate long string stats but must keep them
    valid bounds, so range selection stays sound (overlap test only;
    the exact predicate is always re-applied). Falls back to one Spark
    aggregation job when footers are unreadable driver-side (remote
    filesystem) or any file lacks stats."""
    try:
        import duckdb

        out = {}
        for table, (col, typ) in keys.items():
            d = os.path.join(path, table)
            n_files = sum(1 for f in os.listdir(d) if f.endswith(".parquet"))
            rows = duckdb.execute(
                f"SELECT file_name, min(CAST(stats_min_value AS {typ})),"
                f" max(CAST(stats_max_value AS {typ})), sum(num_values)"
                " FROM parquet_metadata(?)"
                " WHERE path_in_schema = ? GROUP BY file_name",
                [os.path.join(d, "*.parquet"), col],
            ).fetchall()
            if len(rows) != n_files or any(r[1] is None or r[2] is None for r in rows):
                raise ValueError("parquet stats missing")
            out[table] = sorted(
                (os.path.relpath(f, path), mn, mx, int(n)) for f, mn, mx, n in rows
            )
        return out
    except Exception:
        pass
    cols = sorted({c for c, _ in keys.values()})
    franges = (
        spark.read.option("mergeSchema", "true")
        .parquet(*[os.path.join(path, t) for t in keys])
        .groupBy(F.input_file_name().alias("f"))
        .agg(
            *[F.min(c).alias("mn_" + c) for c in cols],
            *[F.max(c).alias("mx_" + c) for c in cols],
            F.count("*").alias("n"),
        )
        .collect()
    )
    out = {t: [] for t in keys}
    for r in franges:
        rel = os.path.relpath(r["f"].removeprefix("file:"), path)
        table = rel.split(os.sep)[0]
        col = keys[table][0]
        out[table].append((rel, r["mn_" + col], r["mx_" + col], int(r["n"])))
    return {t: sorted(v) for t, v in out.items()}


def _least_hashed(df: DataFrame, h, key: tuple, n: int) -> list[tuple]:
    """The n (h, *key) rows of df with the least (h, *key), ascending,
    in one TakeOrdered job: a sample that is a pure function of the
    rows — uniform, but never random."""
    return [
        tuple(r)
        for r in df.select(h.alias("_h"), *key).orderBy("_h", *key).limit(n).collect()
    ]


def _n_terms(pairs: list[tuple[int, str]], k: int) -> int:
    """The term count of a dictionary from its k least (crc32, term)
    pairs: exact below k terms, else the k-th-least-hash estimate
    (k - 1) * 2^32 / (h_k + 1), a pure function of the term set."""
    if len(pairs) < k:
        return len(pairs)
    return (k - 1) * 2**32 // (pairs[k - 1][0] + 1)


def _split_keys(keys: list[str], n: int) -> list[str]:
    """At most n-1 increasing split keys that cut the sorted sample
    into n runs of about equal size. A cut inside a run of equal keys
    moves to the next distinct key, as Spark's RangePartitioner does,
    so repeated keys cost no file."""
    keys = sorted(keys)
    step = len(keys) / n
    bounds: list[str] = []
    for i, k in enumerate(keys, 1):
        if len(bounds) == n - 1:
            break
        if i >= step * (len(bounds) + 1) and (not bounds or k > bounds[-1]):
            bounds.append(k)
    return bounds


def _range_id(cols: list, bounds: list[tuple]):
    """Column: the number of `bounds` < the `cols` key in lexicographic
    order (a key equal to a bound stays below it, as in Spark's
    RangePartitioner) — a balanced CASE tree, O(log n) comparisons per
    row. Spark compares strings by UTF-8 bytes, the same order as
    Python's code-point order."""

    def le(i: int, bound: tuple):
        c, v = cols[i], F.lit(bound[i])
        if i == len(cols) - 1:
            return c <= v
        return (c < v) | ((c == v) & le(i + 1, bound))

    def node(lo: int, hi: int):
        if lo == hi:
            return F.lit(lo)
        mid = (lo + hi) // 2
        return F.when(le(0, bounds[mid]), node(lo, mid)).otherwise(
            node(mid + 1, hi)
        )

    return node(0, len(bounds))


def _by_range(df: DataFrame, key, bounds: list, n: int) -> DataFrame:
    """df repartitioned into n consecutive intervals of its `key` column
    (or tuple of columns) split at `bounds` — repartitionByRange without
    its sampling job, and with boundaries that do not change run to
    run."""
    if isinstance(key, str):
        key, bounds = (key,), [(b,) for b in bounds]
    return df.repartitionById(n, _range_id([F.col(c) for c in key], bounds))


def _doc_span(docs: DataFrame) -> tuple[int, int]:
    """[min, max] doc id of a docs table ((0, 0) when empty)."""
    r = docs.agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")).first()
    return (int(r["lo"]), int(r["hi"])) if r["lo"] is not None else (0, 0)


def _make_block_decoder(
    want_pos: bool, want_offs: bool = False, want_pay: bool = False
):
    """Posting blocks -> (term, doc_id, freq, dl[, positions]
    [, off_starts, off_lens][, payloads]) rows — decode_batch_arrays
    wrapped into RecordBatches (term column via Arrow dictionary take;
    occurrence streams zero-copy ListArrays)."""

    def decode(batches):
        for batch in batches:
            d = decode_batch_arrays(batch, want_pos, want_offs, want_pay)
            if d is None:
                continue
            arrays = [
                d["term_dict"].take(pa.array(d["row_codes"])),
                pa.array(d["doc_ids"]),
                pa.array(d["freqs"].astype(np.int32)),
                pa.array(d["dls"].astype(np.int32)),
            ]
            out_names = ["term", "doc_id", "freq", "dl"]
            if want_pos:
                arrays.append(
                    pa.ListArray.from_arrays(
                        pa.array(d["pos_offsets"].astype(np.int32)),
                        pa.array(d["pos_values"]),
                    )
                )
                out_names.append("positions")
            if want_offs:
                occ_off = pa.array(d["pos_offsets"].astype(np.int32))
                arrays.append(
                    pa.ListArray.from_arrays(occ_off, pa.array(d["off_start_values"]))
                )
                arrays.append(
                    pa.ListArray.from_arrays(occ_off, pa.array(d["off_len_values"]))
                )
                out_names.extend(["off_starts", "off_lens"])
            if want_pay:
                occ_off = pa.array(d["pos_offsets"].astype(np.int32))
                lens = d["pay_len_values"]
                byte_off = np.concatenate(
                    ([0], np.cumsum(lens))
                ).astype(np.int32)
                slab = np.ascontiguousarray(d["pay_byte_slab"])
                pay_bin = pa.Array.from_buffers(
                    pa.binary(),
                    lens.size,
                    [
                        None,
                        pa.py_buffer(byte_off.tobytes()),
                        pa.py_buffer(slab.tobytes()),
                    ],
                )
                arrays.append(pa.ListArray.from_arrays(occ_off, pay_bin))
                out_names.append("payloads")
            yield pa.RecordBatch.from_arrays(arrays, names=out_names)

    return decode
