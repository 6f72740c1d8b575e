"""Inspect a saved index — the reference's `utils/index-dump.cpp`
(segments -> fields -> terms -> postings walk) re-expressed over the
parquet layout.

Usage:
  python tools/index_dump.py --index <dir> [--top 20]
        [--term ref --term second] [--postings 5] [--positions]
        [--cores 8]

Prints the manifest summary (doc/term counts, posting features,
analyzer, term dictionary files), the segment list for an incremental
directory, the top-N terms by df, and a postings sample per requested
term. Read-only.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True)
    ap.add_argument("--top", type=int, default=20)
    ap.add_argument("--term", action="append", default=[])
    ap.add_argument("--postings", type=int, default=5,
                    help="postings rows to show per --term")
    ap.add_argument("--positions", action="store_true")
    ap.add_argument("--cores", type=int, default=8)
    args = ap.parse_args()

    from iresearch_spark.index.model import InvertedIndex
    from iresearch_spark.session import C2_CONF, get_spark

    spark = get_spark("index-dump", cores=args.cores, extra_conf=C2_CONF)
    mf_path = os.path.join(args.index, "multifield.json")
    if os.path.exists(mf_path):
        with open(mf_path) as f:
            mf = json.load(f)
        print(
            f"multi-field index: fields={mf['fields']}"
            f" default={mf['default_field']!r} — dumping the default"
            f" (re-run with --index {args.index}/field=<name> for others)"
        )
        args.index = os.path.join(args.index, f"field={mf['default_field']}")
    with open(os.path.join(args.index, "manifest.json")) as f:
        manifest = json.load(f)

    if "segments" in manifest:  # incremental directory
        from iresearch_spark.streaming.incremental import IncrementalIndexer

        print(f"incremental index: {len(manifest['segments'])} segment(s)")
        for s in manifest["segments"]:
            print(
                f"  {s['id']}: docs [{s['doc_id_base']}, {s['doc_id_end']})"
                f" n_docs={s['n_docs']} ttf={s['total_term_freq']}"
            )
        idx = IncrementalIndexer(index_dir=args.index).read(spark)
    else:
        idx = InvertedIndex.load(spark, args.index)

    fs = idx.field_stats
    print(
        f"n_docs={fs.n_docs} total_term_freq={fs.total_term_freq}"
        f" max_dl={fs.max_dl} analyzer={idx.analyzer_name!r}"
        f" norm={idx.norm!r}"
    )
    print(
        "features: positions=%s offsets=%s payloads=%s deleted=%s"
        % (
            idx.with_positions,
            idx.with_offsets,
            idx.with_payloads,
            idx.deleted is not None,
        )
    )
    print(
        "term dictionary files with pruned term ranges=%s term_buckets=%s"
        % (len(idx.term_stats_ranges or []) or "-", idx.term_buckets)
    )
    if idx.sort_field is not None:
        print(
            "sorted index: sort_field=%r %s, docs files with pruned"
            " doc-id ranges=%s"
            % (
                idx.sort_field,
                "asc" if idx.sort_ascending else "desc",
                len(idx.docs_ranges or []) or "-",
            )
        )
    if idx.numeric_meta:
        print(
            "numeric dictionary: fields=%s precision_step=%d"
            % (idx.numeric_meta, idx.precision_step)
        )
        if idx.num_terms is not None:
            for r in (
                idx.num_terms.groupBy("field")
                .agg(
                    F.countDistinct("shift").alias("levels"),
                    F.count("*").alias("rows"),
                    F.min(F.when(F.col("shift") == 0, F.col("prefix"))).alias("min_key"),
                    F.max(F.when(F.col("shift") == 0, F.col("prefix"))).alias("max_key"),
                )
                .collect()
            ):
                print(
                    f"  {r['field']!r}: levels={r['levels']}"
                    f" rows={r['rows']} key range"
                    f" [{r['min_key']}, {r['max_key']}]"
                )
    n_terms = idx.term_stats.count()
    print(f"distinct terms: {n_terms}")

    if args.top:
        print(f"\ntop {args.top} terms by df:")
        for r in (
            idx.term_stats.orderBy(F.desc("df"), F.asc("term"))
            .limit(args.top)
            .collect()
        ):
            print(f"  {r['term']!r} df={r['df']} cf={r['cf']}")

    for t in args.term:
        rows = (
            idx.term_stats_for_terms([t])
            .filter(F.col("term") == t)
            .collect()
        )
        if not rows:
            print(f"\nterm {t!r}: NOT in dictionary")
            continue
        print(f"\nterm {t!r}: df={rows[0]['df']} cf={rows[0]['cf']}")
        dec = idx.decoded_postings(
            terms=[t], with_positions=args.positions and idx.with_positions
        ).orderBy("doc_id").limit(args.postings)
        for r in dec.collect():
            extra = (
                f" positions={list(r['positions'])}"
                if args.positions and idx.with_positions
                else ""
            )
            print(f"  doc={r['doc_id']} freq={r['freq']} dl={r['dl']}{extra}")


if __name__ == "__main__":
    main()
