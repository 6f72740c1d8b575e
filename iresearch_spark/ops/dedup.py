"""Deduplication operators for web-scale training-data pipelines.

All are declarative DataFrame plans (JVM-side expressions only — no
Python UDFs in any hot path) so Catalyst handles pushdown and AQE
handles skew. Each documents its 100 TB behavior.

Operators:
  exact_duplicates       hash-groupBy on canonical text md5
  minhash_signatures     k-shingle -> seeded-minhash signature vector
  minhash_lsh_pairs      banded LSH candidate pairs + exact verify
  ngram_jaccard_pairs    shingle inverted-index join, exact Jaccard
  simhash64              64-bit SimHash fingerprint per doc
  embedding_dup_pairs    cosine near-dup pairs over embeddings

The reference ships a MinHash analyzer (`minhash_token_stream.cpp`,
see SURVEY §2.1) used for near-dup detection in ArangoSearch; the
shingle->minhash->band->bucket-join pipeline here is the standard
distributed formulation of the same capability.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, functions as F

from iresearch_spark.ops.hashing import hash60, seeded_hash60

_log = logging.getLogger(__name__)

# DataFrames .cache()d by ops in this module, so repeated calls in a
# long-lived session don't accumulate storage: each new op call first
# releases the previous call's caches (they only ever speed up a
# result the caller has typically already materialized), and
# `release_caches()` gives callers an explicit hook (the same concern
# SearchEngine.close() covers for query caches).
_active_caches: list[DataFrame] = []


def release_caches() -> None:
    """Unpersist every DataFrame cached by prior dedup-op calls."""
    while _active_caches:
        try:
            _active_caches.pop().unpersist()
        except Exception:  # session already stopped — nothing to free
            pass


def _register_cache(df: DataFrame) -> DataFrame:
    _active_caches.append(df)
    return df


def exact_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup: (doc_id, content_hash, keep_doc_id, is_duplicate).

    keep = min(doc_id) per identical text. One shuffle on the 60-bit
    content hash; at 100 TB this is the cheapest possible exact pass
    (hash is computed map-side; the shuffle carries only (hash, id)).
    """
    h = df.select(
        F.col(id_col).alias("doc_id"), hash60(F.col(text_col)).alias("content_hash")
    )
    keep = h.groupBy("content_hash").agg(F.min("doc_id").alias("keep_doc_id"))
    return (
        h.join(keep, "content_hash")
        .withColumn("is_duplicate", F.col("doc_id") != F.col("keep_doc_id"))
        .select("doc_id", "content_hash", "keep_doc_id", "is_duplicate")
    )


def _shingles(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """Distinct token n-gram shingles per doc: (doc_id, shingle).

    Tokenization = lowercase whitespace split (JVM split), shingle =
    space-joined n consecutive tokens, built with a sliding slice over
    the token array — all Spark built-ins.
    """
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+").alias("_t"),
    )
    sh = toks.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("_t") >= n,
                F.transform(
                    F.sequence(F.lit(1), F.size("_t") - (n - 1)),
                    lambda i: F.concat_ws(" ", F.slice("_t", i, n)),
                ),
            ).otherwise(F.array(F.concat_ws(" ", "_t")))
        ).alias("shingle"),
    )
    return sh.distinct()


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 16,
    hash_family: str = "md5",
) -> DataFrame:
    """(doc_id, sig_0..sig_{H-1}): sig_i = min over shingles of the i-th
    seeded hash. One shuffle (groupBy doc).

    hash_family:
      'md5'    h_i = seeded-prefix md5 (engine-portable: identical in
               DuckDB — used by the oracle-checked entries)
      'xxhash' h_i = xxhash64(i, shingle) (Spark built-in, ~10x faster —
               the 100 TB path; same LSH quality, not SQL-portable)
    """
    sh = _shingles(df, text_col, id_col, n)
    return _signatures_from_shingles(sh, num_hashes, hash_family)


def _signatures_from_shingles(
    sh: DataFrame, num_hashes: int, hash_family: str
) -> DataFrame:
    if hash_family == "xxhash":
        aggs = [
            F.min(F.xxhash64(F.lit(i), F.col("shingle"))).alias(f"sig_{i}")
            for i in range(num_hashes)
        ]
    else:
        aggs = [
            F.min(seeded_hash60(F.col("shingle"), i)).alias(f"sig_{i}")
            for i in range(num_hashes)
        ]
    return sh.groupBy("doc_id").agg(*aggs)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    hash_family: str = "md5",
) -> DataFrame:
    """Near-dup pairs via banded MinHash LSH, exact-verified.

    signature -> `bands` bands of rows=num_hashes/bands -> docs sharing
    any band become candidates (self-join on band value — the ONLY
    shuffle that touches pairs, and it only carries colliding buckets)
    -> exact shingle-Jaccard verification of candidates.
    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b, jaccard >=
    threshold. At 100 TB: bucket join is skew-safe because identical
    band values imply near-identical docs (bounded bucket sizes for
    natural corpora); a pathological constant-text corpus is already
    collapsed by exact_duplicates first.
    """
    rows = num_hashes // bands
    release_caches()  # previous calls' caches are stale by now
    # cache: the distinct-shingle set feeds the signature aggregation
    # AND both sides of the exact-verify join — computed once. Released
    # by the next dedup-op call or an explicit release_caches().
    sh = _register_cache(_shingles(df, text_col, id_col, n).cache())
    sigs = _signatures_from_shingles(sh, num_hashes, hash_family)
    band_cols = [
        F.concat_ws(
            "_", F.lit(b), *[F.col(f"sig_{b * rows + r}") for r in range(rows)]
        ).alias(f"band_{b}")
        for b in range(bands)
    ]
    banded = sigs.select("doc_id", *band_cols)
    stacked = banded.select(
        "doc_id",
        F.explode(F.array(*[F.col(f"band_{b}") for b in range(bands)])).alias(
            "band"
        ),
    )
    # cache: both sides of the band self-join read `stacked`; without
    # it the 16-hash signature aggregation over the shingle set runs
    # twice. (doc_id, band) is 4 rows/doc — cheap to hold at any scale;
    # released by the next dedup-op call or release_caches().
    stacked = _register_cache(stacked.cache())
    a = stacked.alias("a")
    b = stacked.alias("b")
    cand = (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    verified = _verify_jaccard_from_shingles(sh, cand)
    return verified.filter(F.col("jaccard") >= threshold)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard pairs >= threshold via shingle inverted
    index: explode distinct shingles, self-join on shingle (docs sharing
    >=1 shingle), count intersections, Jaccard = |I|/(|A|+|B|-|I|).

    `max_shingle_df` (opt-in) drops shingles appearing in more than
    that many docs before the pair join — the explicit skew guard for
    100 TB runs (a boilerplate shingle shared by 10^9 docs must not
    produce 10^18 pairs; dropping it cannot remove any pair above a
    high threshold when docs still share their rarer shingles —
    standard practice, and an approximation only for ubiquitous-shingle
    corpora). The DEFAULT is exact semantics (guard off): a library
    caller gets the true Jaccard unless they explicitly trade accuracy
    for skew safety — at web scale pass e.g. max_shingle_df=10_000 and
    audit the trade with `skew_guard_report` (the dropped-shingle count
    as a real metric, not a log line). Dropped shingles are exactly
    those with df > max_shingle_df; their intersection contributions
    vanish from the numerator and nothing else — union sizes keep every
    shingle, so reported Jaccard only ever under-counts for pairs
    sharing a dropped shingle.
    """
    sh = _shingles(df, text_col, id_col, n)
    # union sizes from the UNFILTERED shingle sets: the skew guard then
    # only removes intersection mass, so Jaccard under-counts for pairs
    # sharing a dropped shingle and never over-counts (no false pairs)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    if max_shingle_df is not None:
        # no-silent-caps: the opt-in guard can under-count Jaccard for
        # pairs sharing a >df shingle — surface it once per call; the
        # exact dropped-shingle metric is skew_guard_report (an agg the
        # caller runs when the audit matters, not a hidden extra job)
        _log.warning(
            "ngram_jaccard_pairs: skew guard active — shingles with "
            "df > %d are excluded from intersections (Jaccard can only "
            "under-count; the default max_shingle_df=None is exact; "
            "quantify the drop with dedup.skew_guard_report)",
            max_shingle_df,
        )
        rare = (
            sh.groupBy("shingle")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") <= max_shingle_df)
            .select("shingle")
        )
        sh = sh.join(rare, "shingle")
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(
        F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("size_a")
    )
    sb = sizes.select(
        F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("size_b")
    )
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("inter")
            / (F.col("size_a") + F.col("size_b") - F.col("inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def skew_guard_report(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    max_shingle_df: int = 10_000,
) -> dict:
    """Quantify what a `max_shingle_df` skew guard would drop from
    `ngram_jaccard_pairs` on this corpus: the audit surface for the
    guard's accuracy trade (returned as a metric, not a log line).

    Returns {"max_shingle_df", "n_shingles", "n_dropped_shingles",
    "dropped_occurrences", "max_df"} — n_dropped_shingles is the count
    of distinct shingles with df > max_shingle_df (exactly the ones
    excluded from intersections), dropped_occurrences the (doc,
    shingle) rows they account for (the intersection mass removed).
    One groupBy + one agg, linear in corpus size.
    """
    dfs = _shingles(df, text_col, id_col, n).groupBy("shingle").agg(
        F.count("*").alias("_df")
    )
    row = dfs.agg(
        F.count("*").alias("n_shingles"),
        F.sum(F.when(F.col("_df") > max_shingle_df, 1).otherwise(0)).alias(
            "n_dropped_shingles"
        ),
        F.sum(
            F.when(F.col("_df") > max_shingle_df, F.col("_df")).otherwise(0)
        ).alias("dropped_occurrences"),
        F.max("_df").alias("max_df"),
    ).collect()[0]
    return {
        "max_shingle_df": max_shingle_df,
        "n_shingles": int(row["n_shingles"] or 0),
        "n_dropped_shingles": int(row["n_dropped_shingles"] or 0),
        "dropped_occurrences": int(row["dropped_occurrences"] or 0),
        "max_df": int(row["max_df"] or 0),
    }


def _verify_jaccard_from_shingles(sh, cand) -> DataFrame:
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingle").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingle").alias("sh_b"))
    inter = (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .filter(F.col("sh_a") == F.col("sh_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(
        F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("size_a")
    )
    sb = sizes.select(
        F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("size_b")
    )
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("inter")
            / (F.col("size_a") + F.col("size_b") - F.col("inter")).cast("double"),
        )
        .select("doc_a", "doc_b", "jaccard")
    )


def simhash64(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """64-bit SimHash per doc: per-token 60-bit hash (+4 seeded extra
    bits would extend to 64; we keep 60 and call it simhash for the
    first 60 bits), tf-weighted bit votes, fingerprint bit b = 1 iff the
    weighted sum of bit b over tokens is positive.

    Returns (doc_id, simhash) with simhash as the 60-bit integer.
    Pure JVM expressions: explode tokens -> 60 conditional sums.
    """
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("tok"),
    ).filter(F.col("tok") != "")
    h = toks.select("doc_id", hash60(F.col("tok")).alias("h"))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1)
            .otherwise(-1)
        ).alias(f"v{b}")
        for b in range(60)
    ]
    per_doc = h.groupBy("doc_id").agg(*votes)
    fp = None
    for b in range(60):
        bit = F.when(F.col(f"v{b}") > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        ) * F.lit(2 ** b).cast("long")
        fp = bit if fp is None else fp + bit
    return per_doc.select("doc_id", fp.alias("simhash"))


def embedding_dup_pairs(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    method: str = "auto",
    n_bits: int = 8,
    n_tables: int = 4,
    exact_max_rows: int = 20_000,
) -> DataFrame:
    """Embedding near-dup pairs: cosine >= threshold, doc_a < doc_b.

    method:
      'lsh'   (the 100 TB path) candidates from
              `similarity.lsh_bucket_candidates` — banded multi-table
              hyperplane LSH, so the only pair-touching join is a
              bucket equi-join on (table, signature); each candidate
              is then exact-cosine verified. Recall ~1-(1-p^n_bits)^
              n_tables (p = 1 - arccos(threshold)/pi) — raise
              n_tables toward 1.0. Deterministic, oracle-replayable.
      'exact' brute-force self-join + JVM-side dot product — the
              correctness oracle tier, quadratic; refuse it beyond
              small corpora.
      'auto'  'exact' up to `exact_max_rows` input rows (one cheap
              column-pruned count), else 'lsh'.
    """
    from iresearch_spark.ops.similarity import (
        cosine_expr,
        lsh_bucket_candidates,
        with_norm,
    )

    if method == "auto":
        method = "exact" if emb.count() <= exact_max_rows else "lsh"
    v = with_norm(emb, vec_col, id_col)
    if method == "lsh":
        cand = lsh_bucket_candidates(
            emb, n_bits=n_bits, n_tables=n_tables,
            vec_col=vec_col, id_col=id_col,
        )
        a = v.alias("a")
        b = v.alias("b")
        pairs = (
            cand.join(a, cand["id_a"] == F.col("a.id"))
            .join(b, cand["id_b"] == F.col("b.id"))
            .select(
                F.col("a.id").alias("doc_a"),
                F.col("b.id").alias("doc_b"),
                cosine_expr("a", "b").alias("cosine"),
            )
        )
    elif method == "exact":
        a = v.alias("a")
        b = v.alias("b")
        pairs = a.join(b, F.col("a.id") < F.col("b.id")).select(
            F.col("a.id").alias("doc_a"),
            F.col("b.id").alias("doc_b"),
            cosine_expr("a", "b").alias("cosine"),
        )
    else:
        raise ValueError("method must be 'auto', 'lsh', or 'exact'")
    return pairs.filter(F.col("cosine") >= threshold)


def semantic_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.95,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: str = "hash",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication"): cluster embeddings
    into coarse cells, then call two documents semantic duplicates when
    they land in the SAME cell with cosine >= threshold. Returns
    (doc_a, doc_b, cosine), doc_a < doc_b, cosine rounded to 6.

    The within-cell restriction is the paper's own approximation —
    near-dups split across a cell boundary are missed (raise
    n_centroids quality via centroids="kmeans", or lower n_centroids
    to trade cost for recall). Scale shape: one broadcast centroid
    join + one equi-self-join ON THE CELL ID — pair work is
    sum(cell²), never corpus²; a hot cell is visible in the cell-size
    distribution and is the paper's knob (more centroids)."""
    from iresearch_spark.ops.similarity import cell_assignments, cosine_expr

    release_caches()  # module contract: drop the previous op call's caches
    cells = cell_assignments(
        emb, n_centroids, vec_col=vec_col, id_col=id_col, centroids=centroids
    )
    cells = _register_cache(cells.cache())
    a, b = cells.alias("a"), cells.alias("b")
    pairs = a.join(
        b,
        (F.col("a.cid") == F.col("b.cid")) & (F.col("a.id") < F.col("b.id")),
    ).select(
        F.col("a.id").alias("doc_a"),
        F.col("b.id").alias("doc_b"),
        cosine_expr("a", "b").alias("_cos"),
    )
    return pairs.filter(F.col("_cos") >= threshold).select(
        "doc_a", "doc_b", F.round("_cos", 6).alias("cosine")
    )


def drop_semantic_duplicates(
    df: DataFrame,
    emb: DataFrame,
    threshold: float = 0.95,
    n_centroids: int = 16,
    id_col: str = "doc_id",
    emb_id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: str = "hash",
) -> DataFrame:
    """SemDeDup keep-one: cluster the semantic-dup pairs into connected
    components and keep the smallest id per component (plus every
    unpaired doc). `df` rows join `emb` rows by id."""
    pairs = semantic_dup_pairs(
        emb,
        threshold=threshold,
        n_centroids=n_centroids,
        vec_col=vec_col,
        id_col=emb_id_col,
        centroids=centroids,
    )
    return drop_duplicate_docs(df, pairs, id_col=id_col)


def drop_repeated_paragraphs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    max_df: int = 1,
) -> DataFrame:
    """Corpus-wide boilerplate removal (the CCNet / RefinedWeb /
    Gopher-pipeline "remove duplicated lines/paragraphs across
    documents" step): split each document at `sep`, drop every
    paragraph whose DOCUMENT frequency across the corpus exceeds
    `max_df` (default 1 = keep only corpus-unique paragraphs), and
    rebuild each document's text from the surviving paragraphs in
    their original order. Empty paragraphs (consecutive separators)
    are ignored. Documents whose every paragraph is boilerplate come
    back with empty text, never dropped.

    Scale shape: posexplode + one paragraph-keyed groupBy (map-side
    partial count) + one doc-keyed regroup — linear, no self-join, no
    driver-side state. A pathologically hot paragraph is ONE counter
    row, and the rebuild groups by doc id (uniform by construction).
    All JVM expressions; no Python UDFs.
    """
    import re as _re

    parts = (
        df.select(
            id_col,
            F.posexplode(
                F.split(F.col(text_col), _re.escape(sep), -1)
            ).alias("_pos", "_para"),
        )
        .filter(F.col("_para") != "")
    )
    pdf = parts.groupBy("_para").agg(
        F.count_distinct(F.col(id_col)).alias("_pdf")
    )
    kept = parts.join(pdf, "_para").filter(F.col("_pdf") <= max_df)
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_para"))),
                lambda s: s["_para"],
            ),
            sep,
        ).alias(text_col)
    )
    return (
        df.drop(text_col)
        .join(rebuilt, id_col, "left")
        .na.fill({text_col: ""})
    )


def decontaminate(
    df: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    eval_text_col: str = "text",
    n: int = 13,
) -> DataFrame:
    """Benchmark decontamination (the GPT-3/Llama-style training-data
    hygiene step): drop every document sharing at least one n-gram of
    whitespace-lowercased tokens with the evaluation set. Default
    n=13, the published GPT-3 setting.

    Scale shape: the eval set's distinct n-grams are a small table
    (benchmarks are tiny next to a crawl) — broadcast-joined against
    the corpus's exploded n-grams, then one distinct + anti-join on
    doc ids. Corpus-side grams never shuffle (the join is map-side
    against the broadcast). Documents shorter than n tokens are never
    contaminated. All JVM expressions; no Python UDFs.
    """

    def _grams_col(col: str):
        toks = F.split(F.lower(F.trim(F.col(col))), r"\s+")
        return F.when(
            F.size(toks) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1)),
                lambda i: F.array_join(F.slice(toks, i, n), " "),
            ),
        ).otherwise(F.array().cast("array<string>"))

    eval_grams = (
        eval_df.select(F.explode(_grams_col(eval_text_col)).alias("gram"))
        .distinct()
    )
    doc_grams = df.select(
        id_col, F.explode(_grams_col(text_col)).alias("gram")
    )
    contaminated = (
        doc_grams.join(F.broadcast(eval_grams), "gram")
        .select(id_col)
        .distinct()
    )
    return df.join(contaminated, id_col, "left_anti")


def cluster_duplicates(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iterations: int = 20,
) -> DataFrame:
    """Connected components over near-duplicate PAIRS -> duplicate
    CLUSTERS: (doc_id, cluster_id) with cluster_id = the smallest doc
    id reachable through the pair graph (deterministic canonical
    representative). The step every production dedup needs after
    minhash_lsh_pairs / embedding_dup_pairs — pairs alone can't say
    "keep one per group" when duplicates chain (a~b, b~c).

    Min-label propagation: each round joins labels across edges and
    takes the per-node min, localCheckpoint'ed to keep plans flat;
    converges in O(component diameter) rounds — near-dup clusters are
    shallow (chains longer than a handful of hops are rare), and
    `max_iterations` caps the worst case with a logged warning. Each
    round is one join + one groupBy over the EDGE set, never all
    pairs of docs.
    """
    e = pairs.select(
        F.col(a_col).alias("a"), F.col(b_col).alias("b")
    )
    und = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()
    und = und.localCheckpoint()
    labels = (
        und.select(F.col("a").alias("node")).distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    for _ in range(max_iterations):
        prop = und.join(labels, und["a"] == labels["node"]).select(
            und["b"].alias("node"), F.col("label")
        )
        new_labels = (
            labels.unionByName(prop)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        _log.warning(
            "cluster_duplicates hit max_iterations=%d before convergence"
            " — components deeper than that keep per-round labels",
            max_iterations,
        )
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def drop_duplicate_docs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "doc_a",
    b_col: str = "doc_b",
) -> DataFrame:
    """Keep ONE document per duplicate cluster (the smallest doc id)
    plus every unpaired document: cluster the pairs, anti-join the
    non-representatives."""
    clusters = cluster_duplicates(pairs, a_col=a_col, b_col=b_col)
    losers = clusters.filter(
        F.col("doc_id") != F.col("cluster_id")
    ).select(F.col("doc_id").alias(id_col))
    return df.join(losers, id_col, "left_anti")


def duplicate_span_windows(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 50,
) -> DataFrame:
    """Exact-substring duplicate detection (the Spark-native analogue
    of Lee et al. 2021 "Deduplicating Training Data Makes Language
    Models Better": their suffix-array pass finds verbatim repeated
    spans; here the unit is the n-token sliding window). Returns
    (doc_id, start) — 1-based token position — for every n-token
    window whose exact token sequence (case-preserving whitespace
    tokenization: this is EXACT dedup, not near-dup) occurs >= 2 times
    corpus-wide, across documents or repeated within one, EXCLUDING
    the globally first occurrence (smallest (doc_id, start)), which is
    the canonical copy a remover keeps. Docs shorter than n tokens
    have no windows and are never flagged.

    Scale shape: windows never leave the executor as strings — each
    window is hashed to its md5 inside the projection, so the only
    shuffles are one groupBy on the 128-bit window key (map-side
    partial count + min) and one equi-join of occurrences against the
    >=2 keys. A boilerplate span repeated 10^9 times is one counter
    row; join fan-out is linear in the duplicated volume. md5's 128
    bits keep the corpus-wide collision probability negligible even at
    10^12 windows (~T^2/2^129); no verify join needed, unlike a 64-bit
    key.
    """
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.split(F.trim(F.col(text_col)), r"\s+").alias("_t"),
    )
    win = F.when(
        F.size("_t") >= n,
        F.transform(
            F.sequence(F.lit(1), F.size("_t") - (n - 1)),
            lambda i: F.struct(
                i.cast("int").alias("start"),
                F.md5(F.concat_ws(" ", F.slice("_t", i, n))).alias("h"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<start:int,h:string>>"))
    occ = toks.select("doc_id", F.explode(win).alias("w")).select(
        "doc_id", F.col("w.start").alias("start"), F.col("w.h").alias("h")
    )
    agg = occ.groupBy("h").agg(
        F.count("*").alias("_c"),
        F.min(F.struct(F.col("doc_id"), F.col("start"))).alias("_first"),
    )
    return (
        occ.join(agg.filter(F.col("_c") >= 2), "h")
        .filter(
            ~(
                (F.col("doc_id") == F.col("_first.doc_id"))
                & (F.col("start") == F.col("_first.start"))
            )
        )
        .select("doc_id", "start")
    )


def drop_duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 50,
) -> DataFrame:
    """Exact-substring removal: cut every token covered by a flagged
    duplicate window (see `duplicate_span_windows`) and rebuild each
    document's text from the surviving tokens in original order
    (single-space joined — the op is defined over the token stream,
    like the published pipeline's post-tokenizer pass). The globally
    first occurrence of each duplicated window survives unless another
    flagged window overlaps it. Docs losing every token come back with
    empty text, never dropped; docs shorter than n tokens pass through
    with whitespace normalized.

    Scale shape: flagged windows explode to their n covered token
    indexes (distinct collapses overlaps map-side), one anti-join
    against the posexploded token table on (doc_id, idx), and one
    doc-keyed regroup — all linear in corpus size + n * duplicated
    volume; no corpus-wide sort, no driver state, no Python UDFs.
    """
    flagged = duplicate_span_windows(df, id_col=id_col, text_col=text_col, n=n)
    covered = flagged.select(
        F.col("doc_id").alias(id_col),
        F.explode(
            F.sequence(F.col("start"), F.col("start") + (n - 1))
        ).alias("_idx"),
    ).distinct()
    tokpos = df.select(
        id_col,
        F.posexplode(F.split(F.trim(F.col(text_col)), r"\s+")).alias(
            "_p", "_tok"
        ),
    ).withColumn("_idx", F.col("_p") + 1)
    kept = tokpos.join(covered, [id_col, "_idx"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_idx", "_tok"))),
                lambda s: s["_tok"],
            ),
            " ",
        ).alias(text_col)
    )
    return (
        df.drop(text_col)
        .join(rebuilt, id_col, "left")
        .na.fill({text_col: ""})
    )
