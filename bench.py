"""Benchmark harness. Prints ONE JSON line:
  {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Workload (BASELINE.md protocol, adapted to the sandbox):
  - index_build: full inverted-index build over `documents` at the
    target scale factor (analyzer, postings blocks, stats, norms),
    materialized via count of posting blocks.
  - search categories: the reference's task-set shapes (High/Low term,
    AndHighHigh, OrHigh*, MinMatch, Phrase, Prefix, Wildcard, Fuzzy),
    exhaustive + WAND variants, BM25 top-10.
  - training-data ops: minhash-LSH dedup pairs, LSH ANN top-k.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32),
     BENCH_PAGES_N (optional: also build over N synthetic `pages` rows).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from iresearch_spark.index.builder import build_index
from iresearch_spark.ops import dedup, similarity
from iresearch_spark.search import (
    And,
    Fuzzy,
    Not,
    Or,
    Phrase,
    Prefix,
    SearchEngine,
    Term,
    Wildcard,
)
from iresearch_spark.session import C2_CONF, get_spark


def timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def host_control() -> dict:
    """Spark-free host-speed probe, reported alongside the timings so
    cross-round comparisons can see the shared box's state (steal
    bursts swing wall-clock 2-10x between days — BENCH/BASELINE.md):
    a fixed single-thread numpy workload (best of 3) plus the kernel's
    cumulative steal/user tick counters."""
    import numpy as np

    rng = np.random.default_rng(42)
    a = rng.random(8_000_000)
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        np.sort(a)  # single-threaded, ~0.5 s nominal
        best = min(best, time.perf_counter() - t0)
    out = {"host_control_sec": round(best, 4)}
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        out["host_user_ticks"] = int(parts[1])
        out["host_steal_ticks"] = int(parts[8])
    except Exception:
        pass
    return out


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("iresearch-bench", cores=cpus, shuffle_partitions=cpus, extra_conf=C2_CONF)
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    n_docs = docs.count()

    queries: dict[str, float] = {}
    extra: dict[str, float] = {}

    import tempfile

    ix_dir = os.path.join(tempfile.mkdtemp(prefix="ixbench"), "ix")
    # best-of-2: the shared host's wall-clock varies ~2x run-to-run
    # (see BENCH/BASELINE.md); min is the least-interfered measurement
    t_build, idx = timed(lambda: _built_and_saved(docs, ix_dir))
    idx.unpersist()
    t_build2, idx = timed(lambda: _built_and_saved(docs, ix_dir))
    idx.unpersist()
    queries["index_build"] = min(t_build, t_build2)

    # stemmer-in-the-loop build (text_en = tokenize + NFC + lower +
    # Porter2 over the token DICTIONARY in the Arrow fast path),
    # materialized in memory (no save): prices the full multilingual
    # analyzer chain — stemming runs per distinct term, not per token
    def _stem_build():
        ix = _materialized_index(docs, analyzer="text_en")
        ix.unpersist()

    t_s1, _ = timed(_stem_build)
    t_s2, _ = timed(_stem_build)
    queries["stemmed_index_build"] = min(t_s1, t_s2)

    # query the on-disk read-optimized index: term predicates prune
    # parquet files via min/max stats (the production read path)
    from iresearch_spark.index.model import InvertedIndex

    idx = InvertedIndex.load(spark, ix_dir)
    # preload_stats: term dictionary memory-resident, like the reference's
    # FST — removes the per-query stats-lookup job (documented opt-in)
    engine = SearchEngine(idx, preload_stats=True)
    # warmup: spin up Python workers / JIT before timed runs
    engine.search(Term("batch"), k=1).collect()
    search_tasks = {
        "HighTerm": (Term("batch"), "exhaustive"),
        "LowTerm": (Term("dup"), "exhaustive"),
        "HighTermWand": (Term("batch"), "wand"),
        "AndHighHigh": (And([Term("batch"), Term("small")]), "exhaustive"),
        "OrHighHigh": (Or([Term("batch"), Term("small")]), "exhaustive"),
        "OrHighHighWand": (Or([Term("batch"), Term("small")]), "wand"),
        "Or4High": (
            Or([Term(t) for t in ["batch", "small", "scan", "join"]]),
            "exhaustive",
        ),
        "MinMatch2": (
            Or([Term("batch"), Term("key"), Term("dup")], min_match=2),
            "exhaustive",
        ),
        "Phrase": (Phrase(["table", "hash"]), "exhaustive"),
        "Prefix3": (Prefix("sca"), "exhaustive"),
        "Wildcard": (Wildcard("s%k"), "exhaustive"),
        # infix-only pattern: no literal prefix to seek (this engine
        # preloads the dictionary, so it expands in memory)
        "WildcardInfix": (Wildcard("%atc%"), "exhaustive"),
        "Fuzzy1": (Fuzzy("spork", distance=1), "exhaustive"),
    }
    n_queries = 0
    t_search_total = 0.0
    repeat = 2  # reference protocol: search-benchmark.sh repeat=2
    for name, (node, mode) in search_tasks.items():
        t = min(
            timed(lambda: engine.search(node, k=10, mode=mode).collect())[0]
            for _ in range(repeat)
        )
        queries[name] = t
        n_queries += 1
        t_search_total += t

    # hot serving path over the SAME documents index: driver-resident
    # blocks, zero Spark jobs per query (see search/hot.py); queries
    # are the servable subset of the task set above, rank-identity
    # with the cluster path pinned by test_round5_hot.py
    from iresearch_spark.search.hot import HotEngine

    hot_docs = HotEngine(engine)
    hot_tasks = [
        node
        for node, _m in search_tasks.values()
        if isinstance(node, (Term, And, Or))
        and hot_docs._servable(node)
    ]
    hot_docs.search(hot_tasks[0], k=10)  # warm

    def _serve_docs():
        for qn in hot_tasks * 10:
            hot_docs.search(qn, k=10)

    t_hot_docs = min(timed(_serve_docs)[0] for _ in range(repeat))
    extra["hot_docs_qps"] = round(len(hot_tasks) * 10 / t_hot_docs, 1)

    # EMBEDDED replica of the same saved index dir: pyarrow-only load,
    # no Spark anywhere in the serve path (search/embedded.py) — pin
    # time is the deploy cost of a serving host, qps the same queries
    # as hot_docs_qps (results identical, test_round5_embedded.py)
    t_pin, hot_emb = timed(lambda: HotEngine.from_dir(ix_dir))
    extra["embedded_pin_sec"] = round(t_pin, 4)
    hot_emb.search(hot_tasks[0], k=10)  # warm

    def _serve_emb():
        for qn in hot_tasks * 10:
            hot_emb.search(qn, k=10)

    t_emb = min(timed(_serve_emb)[0] for _ in range(repeat))
    extra["embedded_qps"] = round(len(hot_tasks) * 10 / t_emb, 1)

    # batched task set: ONE job for all queries (search_many) — the
    # scheduling floor is paid once, stages run concurrently; this is
    # the serving-mode throughput number
    t_batched = min(
        timed(
            lambda: engine.search_many(
                {n: node for n, (node, _) in search_tasks.items()}, k=10
            ).collect()
        )[0]
        for _ in range(repeat)
    )
    # (renamed from search_many_12 when WildcardInfix joined the set)
    queries[f"search_many_{n_queries}"] = t_batched
    extra["search_many_qps"] = round(n_queries / t_batched, 2)

    t = min(
        timed(
            lambda: dedup.minhash_lsh_pairs(
                docs, num_hashes=16, bands=8, threshold=0.5,
                hash_family="xxhash",
            ).count()
        )[0]
        for _ in range(repeat)
    )
    queries["dedup_minhash_lsh"] = t
    t = min(
        timed(lambda: similarity.lsh_topk(emb, k=5, n_bits=6).count())[0]
        for _ in range(repeat)
    )
    queries["ann_lsh_topk"] = t
    t = min(
        timed(
            lambda: similarity.lsh_topk(
                emb, k=5, n_bits=6, multi_probe=True
            ).count()
        )[0]
        for _ in range(repeat)
    )
    queries["ann_lsh_multiprobe"] = t
    t = min(
        timed(
            lambda: similarity.topk_join(
                emb.filter(F.col("vec_id") % 25 == 0), emb, k=5
            ).count()
        )[0]
        for _ in range(repeat)
    )
    queries["ann_topk_join"] = t

    # persisted IVF + the Spark-free serving tier: one cell-partitioned
    # save, then EmbeddedIvfIndex answers query batches from the probed
    # cid= dirs with pyarrow alone (the ANN analogue of embedded_qps)
    from iresearch_spark.ops.ann_index import EmbeddedIvfIndex, ivf_save

    ivf_dir = os.path.join(tempfile.mkdtemp(prefix="ivfbench"), "ivf")
    t, _ = timed(lambda: ivf_save(emb, ivf_dir, n_centroids=16))
    queries["ann_ivf_save"] = t
    eivf = EmbeddedIvfIndex(ivf_dir)
    q_rows = [
        (r["vec_id"], r["embedding"])
        for r in emb.filter(F.col("vec_id") % 50 == 0).collect()
    ]
    # warm ALL probed cells (first full batch pins them), then time the
    # steady-state serving rate — the same warm convention as hot_qps
    eivf.search(q_rows, k=5, n_probe=2)
    t, _ = timed(lambda: eivf.search(q_rows, k=5, n_probe=2))
    extra["embedded_ivf_qps"] = round(len(q_rows) / max(t, 1e-9), 1)
    shutil.rmtree(os.path.dirname(ivf_dir), ignore_errors=True)

    from iresearch_spark.ops import textstats

    t = min(
        timed(lambda: textstats.repetition_signals(docs).count())[0]
        for _ in range(repeat)
    )
    queries["repetition_signals"] = t

    # LM-pipeline rows: bigram-LM perplexity scoring (train on the
    # doc_id%5 slice, score everything) and sequence-packing layout
    from iresearch_spark.ops import lm as lm_ops
    from iresearch_spark.ops import sampling as sampling_ops

    def _lm_run():
        ref = docs.filter(F.col("doc_id") % 5 == 0)
        bigrams, unigrams, v = lm_ops.train_bigram_lm(ref)
        return lm_ops.lm_cross_entropy(docs, bigrams, unigrams, v).count()

    t = min(timed(_lm_run)[0] for _ in range(repeat))
    queries["lm_perplexity"] = t
    t = min(
        timed(lambda: sampling_ops.pack_sequences(docs, seq_len=2048).count())[0]
        for _ in range(repeat)
    )
    queries["pack_sequences"] = t

    # default ON: the sf0.1 documents table is only ~5k docs, so the
    # index_build number above is fixed-cost-bound; this run measures
    # the throughput-bound path on a corpus big enough to mean something
    # (see BENCH/BASELINE.md for the 1M-page three-level evidence)
    pages_n = int(os.environ.get("BENCH_PAGES_N", "100000"))
    if pages_n:
        from iresearch_spark.corpus import generate_pages

        # materialize the corpus first — generation cost is not build cost
        pages = generate_pages(spark, pages_n).cache()
        pages.count()
        def pages_build():
            idx = _materialized_index(
                pages, id_col=None, sort_key="url", analyzer="segmentation",
                seg_bits=10,
            )
            idx.unpersist()
            return idx

        t1, _ = timed(pages_build)
        t2, _ = timed(pages_build)
        t = min(t1, t2)
        queries[f"pages_index_build_{pages_n}"] = t
        extra["pages_docs_per_sec"] = round(pages_n / t, 1)

        # WAND pruning payoff (round 5): a SITE-SKEWED corpus (topical
        # sites, site-correlated lengths — the locality real crawls
        # have) indexed SORTED BY URL, so posting blocks inherit site
        # locality and block-max impact bounds actually spread. Query =
        # four co-occurring topical terms (rare globally, dense in
        # their topic's sites). Cluster path: forced WAND (3 jobs) vs
        # the 1-job exhaustive scan — at sandbox corpus sizes the job
        # floor still dominates (recorded honestly; the pruning RATIO
        # is the scale currency: at 10^9+ docs decode dwarfs the two
        # extra jobs). Hot path (driver-resident serving segment): no
        # job floor, so block-max WAND shows up directly as wall-clock
        # — wand < exhaustive, rank-identical, plus the serving QPS.
        from iresearch_spark.corpus import build_vocab
        from iresearch_spark.search.hot import HotEngine

        skew = generate_pages(spark, pages_n, site_skew=True).cache()
        skew.count()
        pidx = _materialized_index(
            skew, id_col=None, sort_field="url", sort_key="url",
            analyzer="segmentation", seg_bits=10,
        )
        vocab = build_vocab(30000)
        # topic-slice-3 leaders: mid-frequency globally (large
        # incidental volume at low block bounds) and dense in their
        # topic's sites (high theta) — the spread profile block-max
        # pruning exists for
        topical = [str(vocab[120 + j]) for j in range(4)]
        node = Or([Term(t) for t in topical])
        eng_exh = SearchEngine(pidx, preload_stats=True)
        eng_wand = SearchEngine(pidx, preload_stats=True)
        eng_wand.collect_wand_stats = True
        eng_exh.search(Term(topical[0]), k=1).collect()  # warm workers
        t_exh = min(
            timed(lambda: eng_exh.search(node, k=10).collect())[0]
            for _ in range(repeat)
        )
        t_wand = min(
            timed(
                lambda: eng_wand.search(node, k=10, mode="wand").collect()
            )[0]
            for _ in range(repeat)
        )
        queries["pages_topical_exhaustive"] = t_exh
        queries["pages_topical_wand"] = t_wand
        if eng_wand.last_wand_stats:
            extra["wand_blocks_total"] = eng_wand.last_wand_stats[
                "blocks_total"
            ]
            extra["wand_blocks_kept"] = eng_wand.last_wand_stats[
                "blocks_kept"
            ]

        # hot serving path: pin the same index driver-side; block-max
        # WAND beats exhaustive HERE because there is no job floor —
        # only the decode work pruning saves
        hot = HotEngine(eng_exh)
        hot.search(node, k=10)  # warm decode cache for the shared terms
        REP = 30

        def _hot_many(mode, cold=False):
            for _ in range(REP):
                if cold:
                    hot._decoded.clear()
                hot.search(node, k=10, mode=mode)

        t_h_exh = min(
            timed(lambda: _hot_many("exhaustive"))[0] for _ in range(repeat)
        ) / REP
        t_h_wand = min(
            timed(lambda: _hot_many("wand"))[0] for _ in range(repeat)
        ) / REP
        queries["hot_topical_exhaustive"] = t_h_exh
        queries["hot_topical_wand"] = t_h_wand
        # cold = decode cache dropped per query: the first-touch shape,
        # where pruning saves the most (only surviving blocks decode)
        t_c_exh = min(
            timed(lambda: _hot_many("exhaustive", cold=True))[0]
            for _ in range(repeat)
        ) / REP
        t_c_wand = min(
            timed(lambda: _hot_many("wand", cold=True))[0]
            for _ in range(repeat)
        ) / REP
        queries["hot_topical_exhaustive_cold"] = t_c_exh
        queries["hot_topical_wand_cold"] = t_c_wand
        # serving throughput over a mixed servable query set
        mixed = [
            Term(topical[0]),
            Or([Term(t) for t in topical]),
            And([Term(topical[0]), Term(topical[1])]),
            Or([Term(t) for t in topical], min_match=2),
            Or([Term("ref"), Term("second")]),
        ]

        def _serve():
            for q in mixed * 10:
                hot.search(q, k=10)

        t_serve = min(timed(_serve)[0] for _ in range(repeat))
        extra["hot_qps"] = round(len(mixed) * 10 / t_serve, 1)

        # multiterm serving (round-5 continuation): Prefix / Wildcard /
        # Fuzzy answered from the in-memory vocabulary — zero Spark
        # jobs end-to-end, expansion included (first call per node pays
        # the vocabulary walk; repeats hit the expansion cache, the
        # interactive-autocomplete shape)
        multiterm = [
            Prefix(topical[0][:4]),
            Wildcard(f"%{topical[1][2:]}"),
            Fuzzy(topical[2], distance=1),
            Or([Prefix(topical[3][:4]), Term(topical[0])]),
        ]

        def _serve_multi():
            for q in multiterm * 10:
                hot.search(q, k=10)

        hot.search(multiterm[0], k=10)  # pay the vocab sort once
        t_multi = min(timed(_serve_multi)[0] for _ in range(repeat))
        extra["hot_multiterm_qps"] = round(
            len(multiterm) * 10 / t_multi, 1
        )

        # columnar serving (round-5 continuation): postings leaves
        # composed with stored-column filters (Exists / NumericRange
        # over the url sort column) answered from the lazily pinned
        # doc columns — the filtered-search shape, zero Spark jobs
        # after the one-time column pin
        from iresearch_spark.search import Exists, NumericRange

        lo, hi = "https://site1", "https://site5"  # ~44% of site ids
        columnar = [
            And([Term(topical[0]), NumericRange("url", lo, hi)]),
            And([Or([Term(t) for t in topical]), Exists("url")]),
            Or([Term(topical[1]), Not(NumericRange("url", hi, None))]),
        ]

        def _serve_col():
            for q in columnar * 10:
                hot.search(q, k=10)

        hot.search(columnar[0], k=10)  # pay the column pin once
        t_col = min(timed(_serve_col)[0] for _ in range(repeat))
        extra["hot_columnar_qps"] = round(
            len(columnar) * 10 / t_col, 1
        )
        pidx.unpersist()
        skew.unpersist()

    total = sum(queries.values())
    print(
        json.dumps(
            {
                "metric": "index_build+search+ops wall sec",
                "value": round(total, 3),
                "unit": "sec",
                "queries": {k: round(v, 4) for k, v in queries.items()},
                "sf": sf_dir,
                "cpus": cpus,
                "n_docs": n_docs,
                "index_docs_per_sec": round(n_docs / queries["index_build"], 1),
                "search_queries_per_sec": round(n_queries / t_search_total, 2),
                **extra,
                **host_control(),
            }
        )
    )


def _materialized_index(docs, **kw):
    kw.setdefault("analyzer", "simple")
    idx = build_index(docs, bucket_bits=16, **kw)
    idx.cache()
    idx.postings.count()
    idx.term_stats.count()
    idx.docs.count()
    return idx


def _built_and_saved(docs, ix_dir, **kw):
    idx = build_index(docs, analyzer="simple", bucket_bits=16, **kw)
    idx.save(ix_dir)
    return idx


if __name__ == "__main__":
    main()
