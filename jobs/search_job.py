"""spark-submit entry point: run a task file of queries against an index.

Task-file lines follow the reference benchmark format
(`scripts/iresearch-benchmark.tasks`): `Category: query text # ...`
with categories HighTerm/MedTerm/LowTerm, *Phrase (quoted), AndHigh*,
OrHigh*, MinMatch..., Prefix3 (trailing *), Wildcard, Fuzzy1/2
(parser parity: utils/index-search.cpp:119-142,240-445).

Usage:
  spark-submit --py-files iresearch_spark.zip jobs/search_job.py \
      --index /path/to/index --tasks tasks.txt [--k 10] [--mode wand] \
      [--scorer bm25] [--repeat 2]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

try:
    import iresearch_spark  # noqa: F401  (spark-submit ships the zip)
except ModuleNotFoundError:
    # plain `python jobs/search_job.py --embedded ...`: resolve the
    # package from the repo checkout next to this script
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession


def parse_task(line: str):
    from iresearch_spark.search import And, Fuzzy, Or, Phrase, Prefix, Term, Wildcard

    line = line.split("#", 1)[0].strip()
    if not line or ":" not in line:
        return None, None
    category, text = (s.strip() for s in line.split(":", 1))
    terms = text.replace('"', "").replace("+", " ").split()
    if "Phrase" in category:
        return category, Phrase(terms)
    if category.startswith("And"):
        return category, And([Term(t) for t in terms])
    if category.startswith("MinMatch"):
        try:
            mm = int(terms[0])
            terms = terms[1:]
        except ValueError:
            mm = 2
        return category, Or([Term(t) for t in terms], min_match=mm)
    if category.startswith("Or"):
        return category, Or([Term(t) for t in terms])
    if category.startswith("Prefix"):
        return category, Prefix(terms[0].rstrip("*"))
    if category.startswith("Wildcard"):
        return category, Wildcard(terms[0].replace("*", "%").replace("?", "_"))
    if category.startswith("Fuzzy"):
        d = 2 if category.endswith("2") else 1
        return category, Fuzzy(terms[0], distance=d)
    # unknown category: infer from the pattern text instead of
    # silently treating '*tat*' as a literal term
    t = terms[0]
    if t.endswith("*") and "*" not in t[:-1] and "?" not in t:
        return category, Prefix(t.rstrip("*"))
    if "*" in t or "?" in t:
        return category, Wildcard(t.replace("*", "%").replace("?", "_"))
    return category, Term(t)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True)
    ap.add_argument("--tasks",
                    help="task file (one 'Category: query' per line)")
    ap.add_argument("--query",
                    help="one Lucene-style query string (alternative to "
                         "--tasks): 'a AND b', '\"a phrase\"', 'pre*', "
                         "'fuzzy~1', 'title:x', '+a -b', '[a TO b]'")
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--mode", default="exhaustive", choices=["exhaustive", "wand"])
    ap.add_argument("--scorer", default="bm25")
    ap.add_argument("--repeat", type=int, default=2)
    ap.add_argument(
        "--batched",
        action="store_true",
        help="answer the whole task set with one search_many job "
        "(one shared shard scan; the serving-throughput mode) instead of "
        "one job per task",
    )
    ap.add_argument(
        "--hot",
        action="store_true",
        help="serve from a driver-resident hot segment (search/hot.py: "
        "zero Spark jobs per query, ms latency; servable shapes only — "
        "others fall back to the cluster path transparently)",
    )
    ap.add_argument(
        "--embedded",
        action="store_true",
        help="serve a SAVED plaintext index with NO SparkSession at "
        "all (plain `python jobs/search_job.py --embedded ...` — "
        "pyarrow reads the parquet layout, search/embedded.py); "
        "implies --hot; multi-segment/encrypted dirs need the "
        "cluster path",
    )
    ap.add_argument(
        "--hot-max-bytes", type=int, default=1 << 30,
        help="hot-segment blob budget; a larger index refuses to pin",
    )
    ap.add_argument("--no-preload-stats", action="store_true",
                    help="skip driver-side term-dictionary preload "
                    "(use for one-shot queries on huge vocabularies)")
    ap.add_argument(
        "--encrypt-keys", default=None,
        help="master-key secrets file (name:base64 lines) for an "
        "encrypted index (add --jars jars/iresearch-kms.jar on a "
        "cluster)")
    args = ap.parse_args()

    if not args.tasks and not args.query:
        raise SystemExit("pass --tasks FILE and/or --query STRING")
    tasks = {}
    if args.tasks:
        with open(args.tasks) as f:
            for line in f:
                category, node = parse_task(line)
                if node is not None:
                    tasks[category] = node
    if args.query:
        from iresearch_spark.search.querystring import parse_query

        tasks["Query"] = parse_query(args.query)

    def serve_hot(hot, timings):
        if args.batched:
            best, res = None, None
            for _ in range(max(args.repeat, 2)):
                t0 = time.perf_counter()
                res = hot.search_many(tasks, k=args.k, mode=args.mode)
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
            for category in tasks:
                rows = res.get(category) or []
                print(
                    f"{category}: top1="
                    f"{(rows[0][0], round(rows[0][1], 4)) if rows else None}"
                )
            timings["batch_total"] = round(best, 6)
            timings["batch_qps"] = (
                round(len(tasks) / best, 1) if best else None
            )
            print(f"batch: {best*1000:.2f}ms for {len(tasks)} tasks "
                  f"({timings['batch_qps']} q/s)")
            print(json.dumps(timings))
            return
        for category, node in tasks.items():
            best, rows = None, None
            for _ in range(max(args.repeat, 2)):
                t0 = time.perf_counter()
                rows = hot.search(node, k=args.k, mode=args.mode)
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
            timings[category] = round(best, 6)
            print(
                f"{category}: {best*1000:.2f}ms top1="
                f"{(rows[0][0], round(rows[0][1], 4)) if rows else None}"
            )
        total = sum(
            v for k, v in timings.items()
            if k not in ("hot_pin_sec", "embedded_pin_sec")
        )
        timings["hot_qps"] = round(len(tasks) / total, 1) if total else None
        print(json.dumps(timings))

    if args.embedded:
        # NO SparkSession: pyarrow reads the saved parquet layout and
        # the replica answers in-process (search/embedded.py); a
        # sealed index decrypts in-process from the same key file
        enc = None
        if args.encrypt_keys:
            from iresearch_spark.index.encryption import IndexEncryption

            enc = IndexEncryption.from_key_file(args.encrypt_keys)
        from iresearch_spark.search.hot import (
            HotEngine,
            HotMultiFieldEngine,
        )

        t0 = time.perf_counter()
        if os.path.exists(os.path.join(args.index, "multifield.json")):
            hot = HotMultiFieldEngine.from_dir(
                args.index, scorer=args.scorer,
                max_bytes=args.hot_max_bytes,
            )
        else:
            hot = HotEngine.from_dir(
                args.index, scorer=args.scorer,
                max_bytes=args.hot_max_bytes, encryption=enc,
            )
        serve_hot(
            hot, {"embedded_pin_sec": round(time.perf_counter() - t0, 4)}
        )
        return

    from iresearch_spark.index.model import InvertedIndex
    from iresearch_spark.search import SearchEngine

    spark = SparkSession.builder.appName("iresearch-search").getOrCreate()
    enc = None
    if args.encrypt_keys:
        from iresearch_spark.index.encryption import IndexEncryption

        enc = IndexEncryption.from_key_file(args.encrypt_keys)
    if os.path.isdir(os.path.join(args.index, "segments")):
        # incremental index dir: serve the multi-segment merged view
        from iresearch_spark.streaming.incremental import IncrementalIndexer

        idx = IncrementalIndexer(index_dir=args.index, encryption=enc).read(
            spark
        )
        if idx is None:
            raise SystemExit(f"no committed segments under {args.index}")
        idx = idx.cache()
    else:
        idx = InvertedIndex.load(spark, args.index, encryption=enc).cache()
    engine = SearchEngine(
        idx,
        scorer=args.scorer,
        # task-set serving: hold the term dictionary driver-side (the
        # reference's memory-resident FST) — one fewer job per query
        preload_stats=not args.no_preload_stats,
    )

    timings = {}
    if args.hot:
        from iresearch_spark.search.hot import HotEngine

        t0 = time.perf_counter()
        hot = HotEngine(engine, max_bytes=args.hot_max_bytes)
        serve_hot(
            hot, {"hot_pin_sec": round(time.perf_counter() - t0, 4)}
        )
        return
    if args.batched:
        best, rows = None, None
        for _ in range(args.repeat):
            t0 = time.perf_counter()
            rows = engine.search_many(tasks, k=args.k, mode=args.mode).collect()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        top1 = {}
        for r in rows:
            top1.setdefault(r["query"], (r["doc_id"], round(r["score"], 4)))
        for category in tasks:
            print(f"{category}: top1={top1.get(category)}")
        timings["batch_total"] = round(best, 4)
        timings["batch_qps"] = round(len(tasks) / best, 2)
        print(f"batch: {best:.4f}s for {len(tasks)} tasks "
              f"({timings['batch_qps']} q/s)")
    else:
        for category, node in tasks.items():
            best, rows = None, None
            for _ in range(args.repeat):
                t0 = time.perf_counter()
                rows = engine.search(node, k=args.k, mode=args.mode).collect()
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
            timings[category] = round(best, 4)
            print(
                f"{category}: {best:.4f}s top1="
                f"{(rows[0]['doc_id'], round(rows[0]['score'], 4)) if rows else None}"
            )
    print(json.dumps(timings))


if __name__ == "__main__":
    main()
