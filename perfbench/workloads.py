"""The workloads: `cluster` and `ingest`.

Each workload function runs set-up, a timed phase and a correctness
gate, and fills a `Run`. Every call into the engine is wrapped in a
span named `<module>.<function>`; under the NullTracer the spans cost
nothing and record nothing.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import statistics
import subprocess
import time

import numpy as np

import corpus as C
from spans import next_job_id, tree_cpu_s

K = 10  # top-k of every query
SCORE_TOL = 1e-9


class Run:
    """State of one benchmark run: settings, counters and results."""

    def __init__(self, seed: int, seconds: float, tracer, work: str, cores: int):
        self.seed = seed
        self.seconds = seconds
        self.tr = tracer
        self.work = work
        self.cores = cores
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.e2e: dict[str, float] = {}
        self.report: dict = {}  # context printed next to the metrics
        self.inputs: dict = {}
        self.facts: dict = {}  # measured values the per-layer metrics read
        self.setup_s = 0.0

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(what)

    def check(self, ok: bool, what: str) -> None:
        """A standalone gate check counts as one attempted operation."""
        self.attempted += 1
        if not ok:
            self.fail(what)

    def phase(self, name: str) -> None:
        self.tr.phase = name


# ------------------------------------------------------------ helpers


def pct(values, q: float) -> float:
    """Nearest-rank percentile (q in [0, 100])."""
    v = sorted(values)
    return v[max(0, min(len(v) - 1, int(np.ceil(q / 100.0 * len(v))) - 1))]


def tail_level(n: int, want: float) -> float:
    """The highest percentile <= `want` that keeps at least ten samples
    beyond it."""
    return min(want, 100.0 * (1.0 - 10.0 / n))


def dir_stats(path: str) -> tuple[int, int]:
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += 1
    return size, files


def steal_ticks() -> tuple[int, int]:
    with open("/proc/stat") as f:
        parts = [int(x) for x in f.readline().split()[1:]]
    return parts[7], sum(parts)


def start_spark(run: Run):
    from iresearch_spark.session import get_spark

    tmp = os.path.join(run.work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    with run.tr.span("spark.session"):
        spark = get_spark(
            "perfbench",
            cores=run.cores,
            shuffle_partitions=run.cores,
            extra_conf={
                # session.get_spark defaults to 16g, more than some hosts have
                "spark.driver.memory": "2g",
                "spark.local.dir": os.path.join(run.work, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(run.work, "warehouse"),
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                    f"-Dderby.system.home={tmp}"
                ),
                "spark.ui.showConsoleProgress": "false",
            },
        )
    run.tr.attach(spark.sparkContext)
    return spark


def stop_spark(run: Run, spark) -> None:
    """Stop the session and the JVM behind it, and wait for it to exit."""
    from pyspark import SparkContext

    run.tr.detach()
    with run.tr.span("spark.stop"):
        gw = SparkContext._gateway
        spark.stop()
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)


@contextlib.contextmanager
def spark_call(run: Run, name: str, **attrs):
    """A span around a call that launches Spark jobs, counting them in
    untraced runs too. Yields a dict that holds "jobs" once the block
    has ended."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    job0 = next_job_id(sc)
    out: dict = {}
    with run.tr.span(name, **attrs):
        yield out
    out["jobs"] = next_job_id(sc) - job0


def make_inputs(run: Run, n_docs: int, pool_size: int):
    with run.tr.span("bench.corpus", spark=False):
        corpus = C.make_corpus(run.seed, n_docs)
        pool = C.make_query_pool(run.seed, corpus, pool_size)
    run.inputs.update(
        docs=corpus.n_docs,
        text_bytes=corpus.text_bytes(),
        tokens=int(corpus.tok.size),
        distinct_terms=corpus.n_terms(),
        query_pool=len(pool),
    )
    return corpus, pool


def build_and_save(run: Run, spark, pages: str, ix_dir: str):
    """A batch build over the pages, materialized, then saved."""
    from iresearch_spark.index.builder import build_index

    df = spark.read.parquet(pages)
    with run.tr.span("index.builder.build_index") as s:
        ix = build_index(
            df,
            id_col=None,
            sort_key="url",
            sort_field="url",
            analyzer="segmentation",
            seg_bits=10,
        )
        blocks = ix.postings.count()
        s["posting_blocks"] = blocks
    with run.tr.span("index.model.save") as s:
        ix.save(ix_dir)
        s["bytes_written"], s["files_written"] = dir_stats(ix_dir)
    fs = ix.field_stats
    ix.unpersist()
    return fs


def parse(run: Run, q: C.Query):
    from iresearch_spark.search.ast import Or
    from iresearch_spark.search.querystring import parse_query

    with run.tr.span("search.querystring.parse_query", spark=False):
        node = parse_query(q.text)
        if q.min_match:
            node = Or(node.children, min_match=q.min_match, boost=node.boost)
    return node


def hot_search(run: Run, h, q: C.Query, mode: str | None = None):
    node = parse(run, q)
    mode = mode or q.mode
    with run.tr.span("search.hot.search", spark=False, shape=q.shape, mode=mode, query=q.text):
        return h.search(node, k=K, mode=mode)


def cache_reuse(run: Run, path: str, pool, stream) -> float:
    """Share of queries that decoded no new term, from memory_stats()
    deltas around each query of a replay of the stream's head on a
    fresh replica. A traced-run probe: memory_stats() costs more than
    a warm query, so the timed loop never calls it."""
    h = pin(run, path)
    reused = 0
    for i in stream:
        before = h.memory_stats()["n_terms_decoded"]
        hot_search(run, h, pool[i])
        reused += h.memory_stats()["n_terms_decoded"] == before
    return reused / len(stream)


def pin(run: Run, path: str):
    from iresearch_spark.search.hot import HotEngine

    with run.tr.span("search.embedded.from_dir", spark=False):
        return HotEngine.from_dir(path)


def analysis_probe(run: Run, corpus: C.Corpus) -> None:
    """Driver-side analyzer kernel cost over a fixed 2000-page sample,
    with no Spark or Arrow IPC around it (median of 3)."""
    from iresearch_spark.analysis.analyzers import get_analyzer

    an = get_analyzer("segmentation")
    texts = corpus.texts[:2000]
    for _ in range(3):
        with run.tr.span("analysis.analyze_flat", spark=False) as s:
            s["tokens"] = int(an.analyze_flat(texts).codes.size)


def docs_to_corpus(ix_dir: str, corpus: C.Corpus) -> dict:
    """Engine doc id -> generator doc index, through the url the index
    stores on its docs table."""
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(ix_dir, "docs"), columns=["doc_id", "url", "dl"])
    by_url = {u: i for i, u in enumerate(corpus.urls)}
    return {
        int(d): (by_url.get(u, -1), int(dl))
        for d, u, dl in zip(
            t.column("doc_id").to_pylist(), t.column("url").to_pylist(), t.column("dl").to_pylist()
        )
    }


def ordered(res) -> bool:
    """score desc, then doc id asc."""
    return all(
        a[1] > b[1] or (a[1] == b[1] and a[0] < b[0]) for a, b in zip(res, res[1:])
    )


def oracle_problem(oracle: C.Oracle, q: C.Query, res, id_map: dict | None = None):
    """None when `res` is the BM25 top-k of `q`, else what differs."""
    scores, dense = oracle.topk(q, K)
    got = np.array([s for _, s in res], dtype=np.float64)
    if got.size != scores.size:
        return f"{q.text!r}: {got.size} hits, oracle {scores.size}"
    if got.size and np.max(np.abs(got - scores)) > SCORE_TOL:
        return f"{q.text!r}: scores differ by {np.max(np.abs(got - scores)):.3g}"
    if not ordered(res):
        return f"{q.text!r}: not in (score desc, doc asc) order"
    if id_map is not None:
        for d, s in res:
            cd = id_map.get(d, (-1, 0))[0]
            if cd < 0 or abs(dense[cd] - s) > SCORE_TOL:
                return f"{q.text!r}: doc {d} scored {s}, oracle {dense[cd] if cd >= 0 else None}"
    return None


def same_answer(a, b) -> bool:
    return len(a) == len(b) and all(
        x[0] == y[0] and abs(x[1] - y[1]) <= SCORE_TOL for x, y in zip(a, b)
    )


def first_difference(a, b) -> str:
    for rank, (x, y) in enumerate(zip(a, b)):
        if x != y:
            return f"at rank {rank}: {x!r} vs {y!r}"
    return f"{len(a)} vs {len(b)} hits"


def gate_stats(run: Run, fs, corpus: C.Corpus, n: int, what: str) -> None:
    run.check(fs.n_docs == n, f"{what}: n_docs {fs.n_docs} != {n}")
    ttf = int(corpus.doc_off[n])
    run.check(fs.total_term_freq == ttf, f"{what}: total_term_freq {fs.total_term_freq} != {ttf}")


def gate_doc_lengths(run: Run, id_map: dict, corpus: C.Corpus) -> None:
    dl = corpus.dl
    bad = sum(1 for cd, d_len in id_map.values() if cd < 0 or dl[cd] != d_len)
    run.check(
        bad == 0 and len(id_map) == corpus.n_docs,
        f"docs table: {bad} of {len(id_map)} docs with wrong url or dl",
    )


def host_probe() -> float:
    """The single-thread numpy probe bench.py reports as
    host_control_sec: sort 8M uniform doubles, best of 2 here."""
    a = np.random.default_rng(42).random(8_000_000)
    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        np.sort(a)
        best = min(best, time.perf_counter() - t0)
    return best


class Timed:
    """Process-tree CPU-seconds and the host's steal share over a block."""

    def __enter__(self):
        self.steal0, self.total0 = steal_ticks()
        self.cpu0 = tree_cpu_s()
        return self

    def __exit__(self, *exc):
        self.cpu = tree_cpu_s() - self.cpu0
        s, t = steal_ticks()
        self.steal_share = (s - self.steal0) / max(1, t - self.total0)
        return False


POOL = 300


# ----------------------------------------------------------- cluster

CLUSTER_DOCS = 6000
CLUSTER_QUERIES = 20  # the median keeps >= 10 samples beyond it


def cluster_stream(run: Run, pool, corpus) -> list:
    """The forced-WAND Or of topical terms, then the pool's exhaustive
    queries with the shapes in rotation: CLUSTER_QUERIES in all."""
    by_shape = {s: [q for q in pool if q.shape == s and q.mode == "exhaustive"] for s in C.SHAPES}
    out = [C.topical_or(run.seed, corpus)]
    for k in range(CLUSTER_QUERIES - 1):
        cands = by_shape[C.SHAPES[k % len(C.SHAPES)]]
        out.append(cands[k // len(C.SHAPES) % len(cands)])
    return out


def cluster(run: Run) -> None:
    """SearchEngine over a loaded index: one client, sequential queries,
    then one search_many batch of the same queries."""
    from iresearch_spark.index.model import InvertedIndex
    from iresearch_spark.search.executor import SearchEngine

    t_setup = time.perf_counter()
    corpus, pool = make_inputs(run, CLUSTER_DOCS, POOL)
    pages = os.path.join(run.work, "pages")
    C.write_pages(corpus, pages)
    spark = start_spark(run)
    ix_dir = os.path.join(run.work, "ix")
    fs = build_and_save(run, spark, pages, ix_dir)
    loads = []
    for _ in range(3):
        t0 = time.perf_counter()
        with run.tr.span("index.model.load"):
            ix = InvertedIndex.load(spark, ix_dir)
        with run.tr.span("search.executor.preload_stats"):
            eng = SearchEngine(ix, preload_stats=True)
        loads.append(time.perf_counter() - t0)
    warm = next(q for q in pool if q.shape == "term")
    cluster_search(run, eng, warm)
    run.setup_s = time.perf_counter() - t_setup - sum(loads) + statistics.median(loads)

    run.phase("timed")
    stream = cluster_stream(run, pool, corpus)
    lat, qcpu, jobs, answers = [], [], [], []
    with Timed() as tm:
        for q in stream:
            t0, c0 = time.perf_counter(), tree_cpu_s()
            try:
                res, n_jobs = cluster_search(run, eng, q)
            except Exception as e:
                run.fail(f"{q.text!r}: {type(e).__name__}: {e}")
                answers.append((q, None))
                continue
            lat.append(time.perf_counter() - t0)
            qcpu.append(tree_cpu_s() - c0)
            jobs.append(n_jobs)
            answers.append((q, res))
    n_q = len(answers)
    run.attempted += n_q
    batch = {}
    for q, _ in answers:
        if q.mode == "exhaustive":
            batch.setdefault(q.text + f"@{q.min_match}", q)
    t0 = time.perf_counter()
    try:
        nodes = {name: parse(run, q) for name, q in batch.items()}
        with run.tr.span("search.executor.search_many", queries=len(nodes)):
            rows = eng.search_many(nodes, k=K).collect()
        many_s = time.perf_counter() - t0
    except Exception as e:
        run.fail(f"search_many: {type(e).__name__}: {e}")
        rows, many_s = [], float("inf")
    run.attempted += 1

    run.phase("gate")
    if run.tr.enabled:
        # blocks kept by WAND: a traced-only second run of the WAND query
        # with the engine's opt-in pruning counters
        eng.collect_wand_stats = True
        cluster_search(run, eng, stream[0])
        run.facts["wand"] = dict(eng.last_wand_stats or {})
        eng.collect_wand_stats = False
    gate_stats(run, fs, corpus, corpus.n_docs, "build")
    gate_stats(run, eng.index.field_stats, corpus, corpus.n_docs, "loaded")
    h = pin(run, ix_dir)
    id_map = docs_to_corpus(ix_dir, corpus)
    gate_doc_lengths(run, id_map, corpus)
    oracle = C.Oracle(corpus)
    seen = set()
    for q, res in answers:
        if res is None or (q.text, q.min_match, q.mode) in seen:
            continue
        seen.add((q.text, q.min_match, q.mode))
        if q.shape in C.ORACLE_SHAPES:
            bad = oracle_problem(oracle, q, res, id_map)
            if bad:
                run.fail("cluster " + bad)
        emb = hot_search(run, h, q, mode="exhaustive")
        if not same_answer(res, emb):
            run.fail(f"{q.text!r} ({q.mode}): cluster and embedded answers differ {first_difference(res, emb)}")
    got: dict[str, list] = {}
    for r in rows:
        got.setdefault(r["query"], []).append((r["doc_id"], r["score"]))
    for name, q in batch.items():
        seq = next(res for qq, res in answers if qq is q)
        many = got.get(name, [])
        if seq is not None and not same_answer(many, seq):
            run.fail(f"search_many {q.text!r}: differs from search() {first_difference(many, seq)}")
    stop_spark(run, spark)
    if run.tr.enabled:
        analysis_probe(run, corpus)

    run.e2e.update(
        query_cpu_ms_p50=pct(qcpu, 50) * 1e3,
        cpu_ms_per_unit=tm.cpu / n_q * 1e3,
        spark_jobs_per_unit=sum(jobs) / len(jobs),
        index_bytes_per_text_byte=dir_stats(ix_dir)[0] / run.inputs["text_bytes"],
    )
    run.inputs.update(segments=1, queries=n_q, batch_queries=len(batch))
    run.facts.update(search_many_s=many_s, load_s=statistics.median(loads))
    run.report.update(
        spark_jobs_per_query=(sum(jobs) / len(jobs), "count", len(jobs)),
        cluster_query_p50_s=(pct(lat, 50), "s", len(lat)),
        cluster_batch_qps=(len(batch) / many_s, "1/s", len(batch)),
        steal_share=(tm.steal_share, "share", 1),
    )


def cluster_search(run: Run, eng, q: C.Query):
    """(answer, Spark jobs the query launched)"""
    node = parse(run, q)
    with spark_call(run, "search.executor.search", shape=q.shape, mode=q.mode) as call:
        rows = eng.search(node, k=K, mode=q.mode).collect()
    return [(r["doc_id"], r["score"]) for r in rows], call["jobs"]


# ------------------------------------------------------------ ingest

INGEST_BASE = 2000
INGEST_BATCH = 1500
INGEST_BATCHES = 2
BURST_QPS = 150  # a burst serves seconds / 3 * BURST_QPS queries


def ingest(run: Run) -> None:
    """IncrementalIndexer micro-batches next to an embedded replica.
    After each commit the serving client's own loop calls refresh() and
    serves a burst of the Zipf-popular query stream; then all segments
    are consolidated, refreshed and served once more. Each burst serves
    seconds / 3 * BURST_QPS queries."""
    from iresearch_spark.streaming.incremental import IncrementalIndexer

    t_setup = time.perf_counter()
    n_total = INGEST_BASE + INGEST_BATCH * INGEST_BATCHES
    corpus, pool = make_inputs(run, n_total, POOL)
    bounds = [0] + [INGEST_BASE + INGEST_BATCH * b for b in range(INGEST_BATCHES + 1)]
    for b in range(len(bounds) - 1):
        C.write_pages(corpus, os.path.join(run.work, f"pages{b}"), bounds[b], bounds[b + 1])
    spark = start_spark(run)
    inc_dir = os.path.join(run.work, "inc")
    inc = IncrementalIndexer(inc_dir, analyzer="segmentation", sort_key="url")
    # the base commit is also the warm-up build
    with run.tr.span("streaming.incremental.process_batch", batch=0):
        inc.process_batch(spark.read.parquet(os.path.join(run.work, "pages0")), 0)
    pins = []
    for _ in range(3):
        t0 = time.perf_counter()
        h = pin(run, inc_dir)
        pins.append(time.perf_counter() - t0)
    for shape in C.SHAPES:  # warm-up: one query of each shape
        hot_search(run, h, next(q for q in pool if q.shape == shape))
    run.setup_s = time.perf_counter() - t_setup - sum(pins) + statistics.median(pins)

    run.phase("timed")
    stream = iter(C.zipf_stream(run.seed, len(pool), 1_000_000))
    # a fixed count, so every run's sample has the same cold/warm mix
    burst_len = max(400, int(run.seconds / (INGEST_BATCHES + 1) * BURST_QPS))
    lat, qcpu, lags, appends, refreshes, cpu, jobs = [], [], [], [], [], [], []
    oracle_todo = []  # (query, answer, committed docs) for the gate
    committed = INGEST_BASE

    def write(name: str, fn, **attrs) -> float:
        """One commit: wall seconds; its CPU and Spark jobs are kept."""
        t0, c0 = time.perf_counter(), tree_cpu_s()
        with spark_call(run, name, **attrs) as call:
            fn()
        cpu.append(tree_cpu_s() - c0)
        jobs.append(call["jobs"])
        run.attempted += 1
        return time.perf_counter() - t0

    def refresh() -> None:
        t0 = time.perf_counter()
        with run.tr.span("search.hot.refresh", spark=False):
            h.refresh()
        refreshes.append(time.perf_counter() - t0)
        n = h.engine.index.field_stats.n_docs
        run.check(n == committed, f"replica serves {n} docs, {committed} committed")

    def burst(t_commit: float | None) -> None:
        """Serve burst_len queries; the first answer ends the visibility
        lag of the micro-batch committed from `t_commit` on."""
        answers = {}
        n0 = len(lat)
        for n in range(burst_len):
            i = int(next(stream))
            q = pool[i]
            t0, c0 = time.perf_counter(), time.process_time()
            try:
                res = hot_search(run, h, q)
            except Exception as e:  # a failed query is counted, not fatal
                run.fail(f"{q.text!r}: {type(e).__name__}: {e}")
                continue
            t1 = time.perf_counter()
            lat.append(t1 - t0)
            qcpu.append(time.process_time() - c0)
            if n == 0 and t_commit is not None:
                lags.append(t1 - t_commit)
            answers.setdefault(i, res)
        run.attempted += burst_len
        run.facts.setdefault("bursts", []).append(
            {"p50_ms": pct(lat[n0:], 50) * 1e3, "queries": len(lat) - n0}
        )
        # gate, untimed, while the replica still serves this commit
        for i, res in answers.items():
            q = pool[i]
            if any(d < 0 or d >= committed for d, _ in res):
                run.fail(f"{q.text!r}: doc id beyond next_doc_id {committed}")
            if q.shape in C.ORACLE_SHAPES:
                oracle_todo.append((q, res, committed))
            ex = hot_search(run, h, q, "exhaustive") if q.mode == "wand" else res
            if not same_answer(res, ex):
                run.fail(f"{q.text!r}: wand answer differs from exhaustive {first_difference(res, ex)}")

    with Timed() as tm:
        for b in range(1, INGEST_BATCHES + 1):
            df = spark.read.parquet(os.path.join(run.work, f"pages{b}"))
            t0 = time.perf_counter()
            appends.append(
                write("streaming.incremental.process_batch", lambda: inc.process_batch(df, b), batch=b)
            )
            committed = bounds[b + 1]
            refresh()
            burst(t0)
        segs = inc.segment_stats()
        new_id = []
        consolidate_s = write(
            "streaming.incremental.consolidate_segments",
            lambda: new_id.append(inc.consolidate_segments(spark, [s.id for s in segs])),
            segments=len(segs),
        )
        refresh()
        burst(None)
    mem = h.memory_stats()

    run.phase("gate")
    with open(os.path.join(inc_dir, "manifest.json")) as f:
        manifest = json.load(f)
    run.check(len(manifest["segments"]) == 1, "consolidation left more than one segment")
    run.check(manifest["next_doc_id"] == n_total, f"next_doc_id {manifest['next_doc_id']} != {n_total}")
    gate_stats(run, h.engine.index.field_stats, corpus, n_total, "consolidated replica")
    oracles: dict[int, C.Oracle] = {}
    for q, res, n_c in oracle_todo:
        if n_c not in oracles:
            oracles[n_c] = C.Oracle(corpus, n_c)
        bad = oracle_problem(oracles[n_c], q, res)
        if bad:
            run.fail(f"after {n_c} docs: {bad}")
    stop_spark(run, spark)
    if run.tr.enabled:
        analysis_probe(run, corpus)
        head = [int(next(stream)) for _ in range(300)]
        run.facts["cache_reuse"] = cache_reuse(run, inc_dir, pool, head)

    new_bytes = dir_stats(os.path.join(inc_dir, "segments", new_id[0]))[0]
    ingest_s = sum(appends) + consolidate_s
    lvl = tail_level(len(lat), 99.0)
    n_new = n_total - INGEST_BASE
    run.e2e.update(
        query_cpu_ms_p50=pct(qcpu, 50) * 1e3,
        cpu_ms_per_unit=sum(cpu) / n_new * 1e3,
        spark_jobs_per_unit=sum(jobs) / len(jobs),
        index_bytes_per_text_byte=dir_stats(inc_dir)[0] / run.inputs["text_bytes"],
    )
    run.inputs.update(segments=len(segs), queries=len(lat), micro_batches=INGEST_BATCHES)
    run.facts.update(
        consolidate_s=consolidate_s,
        rewritten_per_live=new_bytes / sum(s.size for s in segs),
        visible_lag_s=statistics.median(lags),
        segments=len(segs),
        resident_bytes=mem["resident_bytes"],
        decoded_bytes=mem["decoded_bytes"],
        terms_decoded=mem["n_terms_decoded"],
    )
    run.report.update(
        spark_jobs_per_commit=(sum(jobs) / len(jobs), "count", len(jobs)),
        ingest_docs_per_s=(n_new / ingest_s, "1/s", n_new),
        visible_lag_s=(statistics.median(lags), "s (commit start to first answer)", len(lags)),
        serve_qps=(len(lat) / sum(lat), "1/s", len(lat)),
        serve_p50_ms=(pct(lat, 50) * 1e3, "ms", len(lat)),
        serve_p99_ms=(pct(lat, lvl) * 1e3, f"ms (p{lvl:.4g})", len(lat)),
        serve_resident_mb=(mem["resident_bytes"] / 2**20, "MB", 1),
        refresh_s=(statistics.median(refreshes), "s", len(refreshes)),
        steal_share=(tm.steal_share, "share", 1),
    )


WORKLOADS = {"cluster": cluster, "ingest": ingest}


def cleanup(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
