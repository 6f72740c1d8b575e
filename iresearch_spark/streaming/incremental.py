"""Incremental (streaming) indexing — the reference's segment-append
model (`IndexWriter` flush/commit cycle + consolidation, SURVEY §2.6)
re-expressed as Structured Streaming foreachBatch.

Each micro-batch becomes one immutable SEGMENT: its own postings/docs/
term_stats parquet dirs under `<index_dir>/segments/seg_<epoch>`, plus
a lineage row (segment id, doc-id range, counts). The manifest commit
is atomic (write-temp + rename), so readers always see a consistent
set of fully-written segments — the two-phase `Begin()`/`Commit()`
equivalent. Doc ids are assigned per segment from a reserved range
(base = manifest high-watermark), so segments merge with a plain union
(merge.py).

Resumability: Structured Streaming's checkpointLocation replays failed
micro-batches; `_process_batch` is idempotent (a segment that already
exists in the manifest is skipped), giving exactly-once index commits —
the "resumable from checkpoint with per-partition lineage + metrics"
requirement of the north rule.
"""

from __future__ import annotations

import dataclasses
import functools
import json
import os
import time
from dataclasses import dataclass

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F

from iresearch_spark.analysis.analyzers import Analyzer, get_analyzer
from iresearch_spark.index.builder import (
    METRICS_ARROW,
    METRICS_FIELDS,
    block_summary,
    build_index,
)
from iresearch_spark.index.model import (
    FieldStats,
    InvertedIndex,
    check_segments_agree,
    read_parquet,
)


def _sub_manifests(paths: list[str]) -> list[dict]:
    out = []
    for p in paths:
        with open(os.path.join(p, "manifest.json")) as f:
            out.append(json.load(f))
    return out


def _scan_each(spark, paths, sub_manifests, table: str) -> DataFrame:
    """One scan of `table` per segment, unioned in the given order."""
    return functools.reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True),
        [
            read_parquet(
                spark, os.path.join(p, table), (m.get("schemas") or {}).get(table)
            )
            for p, m in zip(paths, sub_manifests)
        ],
    )


def _common_schema(sub_manifests: list[dict], table: str) -> dict | None:
    """The table's recorded read schema when every segment records the
    same one, else None (the read then infers it)."""
    recs = [(m.get("schemas") or {}).get(table) for m in sub_manifests]
    if recs[0] is None or any(r != recs[0] for r in recs[1:]):
        return None
    return recs[0]


def _concat_ranges(paths, sub_manifests):
    """Concatenated absolute-path [min, max] term_stats file ranges
    across segments; None unless EVERY segment records them (a
    range-less segment's terms would otherwise be invisible to the
    seek)."""
    if not all(m.get("term_stats_ranges") for m in sub_manifests):
        return None
    return [
        (os.path.join(p, f), mn, mx)
        for p, m in zip(paths, sub_manifests)
        for f, mn, mx in m["term_stats_ranges"]
    ]


@dataclass
class IncrementalIndexer:
    index_dir: str
    analyzer: str = "simple"
    text_col: str = "text"
    sort_key: str = "url"
    with_positions: bool = True
    bucket_bits: int = 16
    # granular numeric dictionary per segment (index/numeric.py);
    # the merged view unions them when every segment agrees
    numeric_fields: list | None = None
    precision_step: int = 64
    # OFFS / PAY occurrence streams per segment (index_features.hpp):
    # the merged read enforces homogeneity, so highlight()/payloads()
    # work over streaming indexes exactly like batch saves
    with_offsets: bool = False
    payload_delimiter: str | None = None
    # at-rest encryption provider (index.encryption.IndexEncryption):
    # every segment's tables are sealed with Parquet Modular
    # Encryption exactly like a batch save(encryption=); the merged
    # read arms the session and decrypts transparently
    encryption: object | None = None

    def _wopts(self) -> dict:
        return (
            self.encryption.write_options()
            if self.encryption is not None
            else {}
        )

    def _write_metrics(self, idx: InvertedIndex, seg_path: str) -> None:
        """The segment's metrics/ table: the summary pass's
        per-partition lineage rows, one file from a one-task job (so an
        encrypted segment seals it like every other table). The rows
        reach the JVM as Arrow: a list of rows would cost a Python
        worker pass, 4x the CPU of this write."""
        rows = pa.Table.from_pylist(
            [dict(zip(METRICS_FIELDS, r)) for r in idx.metrics], schema=METRICS_ARROW
        )
        idx.postings.sparkSession.createDataFrame(rows).coalesce(1).write.options(
            **self._wopts()
        ).mode("overwrite").parquet(os.path.join(seg_path, "metrics"))

    # ---------------- manifest ----------------

    def _manifest_path(self) -> str:
        return os.path.join(self.index_dir, "manifest.json")

    def _read_manifest(self) -> dict:
        try:
            with open(self._manifest_path()) as f:
                return json.load(f)
        except FileNotFoundError:
            return {"version": 0, "segments": [], "next_doc_id": 0}

    def _commit_manifest(self, manifest: dict) -> None:
        manifest["version"] += 1
        tmp = self._manifest_path() + ".tmp"
        os.makedirs(self.index_dir, exist_ok=True)
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, self._manifest_path())  # atomic commit

    # ---------------- batch processing ----------------

    def process_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        """foreachBatch hook. Idempotent per epoch."""
        manifest = self._read_manifest()
        seg_id = f"seg_{epoch_id}"
        if any(s["id"] == seg_id for s in manifest["segments"]):
            return  # checkpoint replay — already committed
        base = manifest["next_doc_id"]
        # fused build with an id offset: the micro-batch's segment claims
        # the doc-id range [base, base+n) in one projected shuffle (no
        # separate window-rank pass per epoch)
        idx = build_index(
            batch_df,
            text_col=self.text_col,
            id_col=None,
            sort_key=self.sort_key,
            analyzer=self.analyzer,
            with_positions=self.with_positions,
            bucket_bits=self.bucket_bits,
            id_base=base,
            numeric_fields=self.numeric_fields,
            precision_step=self.precision_step,
            with_offsets=self.with_offsets,
            payload_delimiter=self.payload_delimiter,
        )
        if idx.doc_span is None:  # the build found no rows
            idx.unpersist()
            return
        # the fused build's ids are dense: [base, last + 1)
        n_rows = idx.doc_span[1] + 1 - base
        seg_path = os.path.join(self.index_dir, "segments", seg_id)
        idx.save(seg_path, encryption=self.encryption)
        self._write_metrics(idx, seg_path)
        idx.unpersist()
        manifest["segments"].append(
            {
                "id": seg_id,
                "n_docs": idx.field_stats.n_docs,
                "total_term_freq": idx.field_stats.total_term_freq,
                "doc_id_base": base,
                "doc_id_end": base + n_rows,
                "committed_at": time.time(),
            }
        )
        manifest["next_doc_id"] = base + n_rows
        self._commit_manifest(manifest)

    # ---------------- streaming wiring ----------------

    def start(self, stream_df: DataFrame, checkpoint_dir: str, trigger_once=True):
        writer = stream_df.writeStream.foreachBatch(self.process_batch).option(
            "checkpointLocation", checkpoint_dir
        )
        if trigger_once:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    # ---------------- policy-driven consolidation ----------------

    def segment_stats(self, spark: SparkSession | None = None):
        """Per-segment `policies.SegmentStats` for policy selection:
        on-disk bytes (walked driver-side — the manifest lives on the
        same FS), doc counts from the manifest, deleted counts from the
        per-segment tombstone dirs (counted only when `spark` is given;
        otherwise deletes are assumed zero, which only makes docs_fill/
        tier slightly pessimistic about cleanup wins)."""
        from iresearch_spark.index.policies import SegmentStats

        manifest = self._read_manifest()
        out = []
        for s in manifest["segments"]:
            path = os.path.join(self.index_dir, "segments", s["id"])
            size = 0
            for root, _dirs, files in os.walk(path):
                for fn in files:
                    try:
                        size += os.path.getsize(os.path.join(root, fn))
                    except OSError:
                        pass
            removed = 0
            if spark is not None and os.path.isdir(
                os.path.join(path, "deleted")
            ):
                if self.encryption is not None:
                    self.encryption.apply(spark)
                removed = (
                    spark.read.parquet(os.path.join(path, "deleted"))
                    .select("doc_id")
                    .distinct()
                    .count()
                )
            out.append(
                SegmentStats(
                    id=s["id"],
                    size=size,
                    docs=s["n_docs"],
                    live_docs=s["n_docs"] - removed,
                )
            )
        return out

    def plan_consolidation(
        self,
        policy: str = "tier",
        spark: SparkSession | None = None,
        **opts,
    ) -> list[str]:
        """Segment ids the named policy would merge (ConsolidateTier /
        Bytes / BytesAccum / Count / DocsLive / DocsFill —
        `index_utils.hpp:30-84`). Pure planning; no data moves."""
        from iresearch_spark.index import policies

        return policies.select(self.segment_stats(spark), policy, **opts)

    def consolidate_segments(
        self,
        spark: SparkSession,
        seg_ids: list[str],
        reblock: bool = False,
        bucket_bits: int | None = None,
    ) -> str | None:
        """Merge the named segments into ONE new segment and atomically
        swap them in the manifest (the reference's
        `IndexWriter::Consolidate` on a policy's candidate set,
        `index_writer.cpp:1340`). Pending deletes inside the selected
        segments are purged during the rewrite (merge-time doc_id_map
        skip, `merge_writer.cpp:1448-1472`); unselected segments are
        untouched, readers see either the old or the new committed set.
        Returns the new segment id (None when <2 segments selected)."""
        from iresearch_spark.index.merge import (
            consolidate as _reblock,
            purge_deleted,
        )

        chosen = set(seg_ids)
        manifest = self._read_manifest()
        sel = [s for s in manifest["segments"] if s["id"] in chosen]
        missing = chosen - {s["id"] for s in sel}
        if missing:
            raise ValueError(f"unknown segment ids: {sorted(missing)}")
        if len(sel) < 2:
            return None
        bits = bucket_bits if bucket_bits is not None else self.bucket_bits
        paths = [
            os.path.join(self.index_dir, "segments", s["id"]) for s in sel
        ]
        sub_manifests = _sub_manifests(paths)
        idx = self._merged_view(spark, paths, sub_manifests, "consolidating")
        # save() writes postings and docs rows in the order it scans
        # them, and a multi-path scan orders its files by size: one scan
        # per segment, in manifest order, keeps the rewrite's files
        # independent of file sizes
        idx = dataclasses.replace(
            idx,
            postings=_scan_each(spark, paths, sub_manifests, "postings"),
            docs=_scan_each(spark, paths, sub_manifests, "docs"),
        )
        if idx.deleted is not None:
            idx = purge_deleted(idx, bits)
        elif reblock:
            idx = _reblock(idx, bits)
        # one counting pass over the merged postings, as a build runs
        # over its blocks: the block count, the dictionary sample save()
        # cuts its files from, and the segment's metrics rows. One task
        # per core: a Python task per scan split costs more than its
        # counting
        summary = block_summary(
            idx.postings.coalesce(spark.sparkContext.defaultParallelism), bits
        )
        idx = dataclasses.replace(
            idx, n_blocks=summary["blocks"], term_sample=summary["sample"],
            metrics=summary["metrics"],
        )
        new_id = f"seg_cons_{manifest['version'] + 1}"
        new_path = os.path.join(self.index_dir, "segments", new_id)
        idx.save(new_path, encryption=self.encryption)
        self._write_metrics(idx, new_path)
        entry = {
            "id": new_id,
            "n_docs": idx.field_stats.n_docs,
            "total_term_freq": idx.field_stats.total_term_freq,
            "doc_id_base": min(s["doc_id_base"] for s in sel),
            "doc_id_end": max(s["doc_id_end"] for s in sel),
            "consolidated_from": [s["id"] for s in sel],
            "committed_at": time.time(),
        }
        # swap in place of the first selected entry to keep manifest order
        segs, placed = [], False
        for s in manifest["segments"]:
            if s["id"] in chosen:
                if not placed:
                    segs.append(entry)
                    placed = True
            else:
                segs.append(s)
        manifest["segments"] = segs
        self._commit_manifest(manifest)
        # old dirs are unreachable once the manifest committed; a crash
        # here leaves harmless orphans, never a broken index
        import shutil

        for p in paths:
            shutil.rmtree(p, ignore_errors=True)
        return new_id

    # ---------------- reading ----------------

    def read(self, spark: SparkSession) -> InvertedIndex | None:
        """Point-in-time merged view of all committed segments (the
        reference DirectoryReader over SubReaders).

        ONE multi-path parquet scan per table + one stats aggregation,
        regardless of segment count: the earlier pairwise merge_indexes
        loop grew the plan (and re-aggregated term_stats) O(#segments),
        a driver-side plan explosion after months of daily micro-batches.
        Doc-id disjointness across segments is the manifest's contract,
        so a plain union IS the merged index."""
        manifest = self._read_manifest()
        segs = manifest["segments"]
        if not segs:
            return None
        paths = [
            os.path.join(self.index_dir, "segments", s["id"]) for s in segs
        ]
        if len(paths) == 1:
            return InvertedIndex.load(
                spark, paths[0], encryption=self.encryption
            )
        return self._merged_view(spark, paths, _sub_manifests(paths), "reading")

    def _merged_view(
        self, spark: SparkSession, paths: list[str], sub_manifests: list[dict],
        action: str,
    ) -> InvertedIndex:
        """The segments at `paths` as one index: one multi-path read
        per table (with the segments' recorded schemas when they all
        agree — no inference job) and one term_stats groupBy."""
        if any(m.get("encryption") for m in sub_manifests):
            if self.encryption is None:
                raise ValueError(
                    "segments are encrypted: construct IncrementalIndexer"
                    " with encryption= to read them"
                )
        if self.encryption is not None:
            self.encryption.apply(spark)
        check_segments_agree(sub_manifests, action)
        if any(m.get("has_deleted") for m in sub_manifests):
            # deletes are per-segment parquet dirs; only some exist, so
            # they can't ride one multi-path read
            parts = [
                read_parquet(
                    spark, os.path.join(p, "deleted"),
                    (m.get("schemas") or {}).get("deleted"),
                ).select("doc_id")
                for p, m in zip(paths, sub_manifests)
                if m.get("has_deleted")
            ]
            deleted = parts[0]
            for d in parts[1:]:
                deleted = deleted.unionByName(d)
            deleted = deleted.distinct()
        else:
            deleted = None
        # recursiveFileLookup: each segment's postings dir is its own
        # _tb=<bucket> partition tree; multiple partitioned roots in one
        # read trip partition discovery (CONFLICTING_DIRECTORY_STRUCTURES),
        # so read the files flat. Bucket pruning survives via the _tbd
        # DATA column each bucket file carries (written by
        # InvertedIndex.save since round 3): rename it to _tb and the
        # engine's postings_for_terms keeps its seek analogue — the
        # term-bucket predicate skips non-matching files on their
        # (constant per file) parquet min/max stats. Segments may have
        # different bucket counts, so term_buckets becomes the LIST of
        # distinct counts (pruning includes a term's bucket under every
        # count — over-includes, never drops).
        postings_schema = _common_schema(sub_manifests, "postings")
        if postings_schema is not None:  # no partition discovery: no _tb
            postings_schema = dict(postings_schema, fields=[
                f for f in postings_schema["fields"] if f["name"] != "_tb"
            ])
        postings = read_parquet(
            spark, [os.path.join(p, "postings") for p in paths],
            postings_schema, recursiveFileLookup="true",
        )
        if all(m.get("tb_data_col") for m in sub_manifests):
            postings = postings.withColumnRenamed("_tbd", "_tb")
            counts = sorted({int(m["term_buckets"]) for m in sub_manifests})
            term_buckets = counts[0] if len(counts) == 1 else counts
        else:  # pre-_tbd segments in the mix: no bucket column to prune on
            term_buckets = None
        term_rows = read_parquet(
            spark, [os.path.join(p, "term_stats") for p in paths],
            _common_schema(sub_manifests, "term_stats"),
        )
        term_stats = term_rows.groupBy("term").agg(
            F.sum("df").alias("df"), F.sum("cf").alias("cf")
        )
        # granular numeric dictionary: one multi-path read when EVERY
        # segment carries a compatible layout (doc ids are disjoint, so
        # union == merged dictionary); a partial or mismatched set
        # degrades to the stored-column fallback (None) rather than
        # silently dropping some segments' docs from GranularRange
        num_terms = None
        numeric_meta = None
        metas = [m.get("numeric_meta") for m in sub_manifests]
        steps = {m.get("precision_step", 64) for m in sub_manifests}
        if all(metas) and len({json.dumps(x, sort_keys=True) for x in metas}) == 1 and len(steps) == 1:
            num_terms = read_parquet(
                spark, [os.path.join(p, "num_terms") for p in paths],
                _common_schema(sub_manifests, "num_terms"),
            )
            numeric_meta = metas[0]
        return InvertedIndex(
            postings=postings,
            docs=read_parquet(
                spark, [os.path.join(p, "docs") for p in paths],
                _common_schema(sub_manifests, "docs"),
            ),
            term_stats=term_stats,
            term_rows=(term_rows, len(paths)),
            field_stats=FieldStats(
                n_docs=sum(m["n_docs"] for m in sub_manifests),
                total_term_freq=sum(m["total_term_freq"] for m in sub_manifests),
                max_dl=(
                    max(m["max_dl"] for m in sub_manifests)
                    if all(m.get("max_dl") is not None for m in sub_manifests)
                    else None
                ),
            ),
            with_positions=sub_manifests[0]["with_positions"],
            with_offsets=sub_manifests[0].get("with_offsets", False),
            with_payloads=sub_manifests[0].get("with_payloads", False),
            norm=sub_manifests[0].get("norm", "norm2"),
            analyzer_name=sub_manifests[0].get("analyzer"),
            deleted=deleted,
            term_buckets=term_buckets,
            # the dictionary seek survives the merged view: lookups
            # intersect the CONCATENATED per-segment term_stats file
            # ranges (overlapping intervals — per_segment_dictionary
            # routes the accessors through a linear scan + a sum-df
            # re-aggregation so per-segment rows reconstitute global
            # stats exactly; doc ids are disjoint across segments).
            # Without this, every stats lookup on a merged view
            # re-shuffled the FULL re-aggregated vocabulary — the
            # per-query cost the dictionary seek exists to avoid.
            # All-or-nothing: one range-less segment would make its
            # terms invisible to the seek, silently dropping matches.
            term_stats_ranges=_concat_ranges(paths, sub_manifests),
            per_segment_dictionary=True,
            num_terms=num_terms,
            numeric_meta=numeric_meta,
            precision_step=min(steps),  # irrelevant when num_terms is None
            n_blocks=(
                sum(m["n_blocks"] for m in sub_manifests)
                if all(m.get("n_blocks") is not None for m in sub_manifests)
                else None
            ),
        )
