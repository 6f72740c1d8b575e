"""Statistical language-model scoring for training-data pipelines.

Two published pipeline steps:

1. CCNet-style LM perplexity scoring (Wenzek et al. 2020, "CCNet:
   Extracting High Quality Monolingual Datasets from Web Crawl Data"):
   score every document by the perplexity of a language model trained
   on a clean reference corpus, then keep the low-perplexity head.
   CCNet uses a 5-gram KenLM trained on Wikipedia; the sandbox-scale
   analogue here is an add-one-smoothed token BIGRAM model — the same
   pipeline shape (train on reference -> score corpus -> threshold),
   with the model held as a DataFrame instead of a binary KenLM file so
   every step stays a JVM join and is exactly replayable in SQL.

2. DSIR importance weights (Xie et al. 2023, "Data Selection for
   Language Models via Importance Resampling"): estimate hashed n-gram
   bag-of-words distributions for a TARGET corpus and the RAW corpus,
   weight every raw document by its log importance ratio
   sum_f [ log p_target(bucket(f)) - log p_raw(bucket(f)) ], and sample
   with seeded Gumbel top-k.

Scale shape (both): model estimation is one or two linear groupBys over
the reference corpus with map-side partial aggregation; scoring is an
equi-join of the corpus's exploded features against the model table
(broadcast when the model is small, shuffle hash join otherwise) plus
one doc-keyed re-aggregation. No self-joins, no driver-side state, no
Python UDFs — every expression is JVM-side and portable to the DuckDB
oracle verbatim.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from iresearch_spark.ops.hashing import hash60, hash60_sql

# The shared tokenizer convention for LM ops: lowercase, split on runs
# of non-alphanumeric characters (Unicode-aware). Both Spark (Java
# regex) and DuckDB (RE2) support \p{L}/\p{N} with identical semantics
# on this class.
TOKEN_SPLIT_RE = r"[^\p{L}\p{N}]+"


def _tokens(col) -> "F.Column":
    toks = F.split(F.lower(col), TOKEN_SPLIT_RE)
    return F.filter(toks, lambda t: t != "")


def train_bigram_lm(
    ref: DataFrame, text_col: str = "text"
) -> tuple[DataFrame, DataFrame, int]:
    """Train an add-one-smoothed bigram LM on a reference corpus.

    Returns (bigrams, unigrams, vocab_size):
      bigrams:  (w1, w2, c2)  — bigram counts
      unigrams: (w1, c1)      — context counts
      vocab_size: |V| distinct tokens, the add-one denominator term.

    P(w2|w1) = (c2(w1,w2) + 1) / (c1(w1) + |V|); an unseen context w1
    degrades to the uniform 1/|V|. One explode + two groupBys over the
    reference — linear, map-side combinable.
    """
    toks = ref.select(_tokens(F.col(text_col)).alias("_t"))
    pairs = toks.select(
        F.explode(
            F.when(
                F.size("_t") >= 2,
                F.zip_with(
                    F.slice("_t", 1, F.size("_t") - 1),
                    F.slice("_t", 2, F.size("_t") - 1),
                    lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                ),
            ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
        ).alias("bg")
    ).select("bg.w1", "bg.w2")
    bigrams = pairs.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    unis = toks.select(F.explode("_t").alias("w1"))
    unigrams = unis.groupBy("w1").agg(F.count("*").alias("c1"))
    vocab_size = unigrams.count()
    return bigrams, unigrams, int(vocab_size)


def lm_cross_entropy(
    df: DataFrame,
    bigrams: DataFrame,
    unigrams: DataFrame,
    vocab_size: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document bigram cross-entropy (nats/token) and perplexity
    under the add-one model from `train_bigram_lm`.

    Returns (id_col, n_bigrams, cross_entropy, ppl); documents with
    fewer than two tokens keep NULL cross_entropy/ppl and n_bigrams=0
    (never dropped — thresholding is the caller's policy step).

    The two model joins are plain equi-joins: unigram contexts are
    broadcast-sized for any real vocabulary; the bigram join shuffles
    on (w1, w2) — uniform keys by construction. Everything after is one
    doc-keyed aggregation.
    """
    toks = df.select(id_col, _tokens(F.col(text_col)).alias("_t"))
    pairs = toks.select(
        id_col,
        F.explode(
            F.when(
                F.size("_t") >= 2,
                F.zip_with(
                    F.slice("_t", 1, F.size("_t") - 1),
                    F.slice("_t", 2, F.size("_t") - 1),
                    lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                ),
            ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
        ).alias("bg"),
    ).select(id_col, "bg.w1", "bg.w2")
    scored = (
        pairs.join(bigrams, ["w1", "w2"], "left")
        .join(unigrams, "w1", "left")
        .select(
            id_col,
            (
                -F.log(
                    (F.coalesce(F.col("c2"), F.lit(0)) + F.lit(1.0))
                    / (F.coalesce(F.col("c1"), F.lit(0)) + F.lit(float(vocab_size)))
                )
            ).alias("_nll"),
        )
    )
    agg = scored.groupBy(id_col).agg(
        F.count("*").alias("n_bigrams"),
        F.avg("_nll").alias("cross_entropy"),
    )
    out = (
        df.select(id_col)
        .join(agg, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_bigrams"), F.lit(0)).alias("n_bigrams"),
            F.round("cross_entropy", 6).alias("cross_entropy"),
            F.round(F.exp("cross_entropy"), 4).alias("ppl"),
        )
    )
    return out


def perplexity_filter(
    df: DataFrame,
    ref: DataFrame,
    max_ppl: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    ref_text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """CCNet head-bucket selection: keep documents whose LM perplexity
    under the reference model is <= max_ppl. Documents too short to
    score (< n tokens) are dropped — no evidence of quality. (CCNet
    buckets by the Wikipedia-KenLM perplexity distribution and keeps
    head/middle; a fixed threshold is the deterministic analogue —
    compute corpus quantiles offline if bucket semantics are needed.)

    Default model is the CCNet-parity interpolated 5-gram with pruned
    high orders (train_ngram_lm); pass n=2 for the cheaper bigram used
    through round 4."""
    if n == 2:
        bigrams, unigrams, v = train_bigram_lm(ref, ref_text_col)
        scores = lm_cross_entropy(df, bigrams, unigrams, v, id_col, text_col)
    else:
        counts, v, t = train_ngram_lm(ref, n=n, text_col=ref_text_col)
        scores = ngram_cross_entropy(
            df, counts, v, t, id_col=id_col, text_col=text_col
        )
    keep = scores.filter(F.col("ppl") <= max_ppl).select(id_col)
    return df.join(keep, id_col, "left_semi")


def _hashed_feature_buckets(col, n_buckets: int) -> "F.Column":
    """DSIR hashed bag: unigram + bigram features -> bucket ids via the
    engine-portable 60-bit md5 hash, modulo n_buckets."""
    toks = _tokens(col)
    bigrams = F.when(
        F.size(toks) >= 2,
        F.zip_with(
            F.slice(toks, 1, F.size(toks) - 1),
            F.slice(toks, 2, F.size(toks) - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    feats = F.concat(toks, bigrams)
    return F.transform(feats, lambda t: hash60(t) % F.lit(n_buckets))


def dsir_log_weights(
    df: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    target_text_col: str = "text",
    n_buckets: int = 10_000,
) -> DataFrame:
    """DSIR (Xie et al. 2023) log importance weights.

    Features are hashed unigrams+bigrams in `n_buckets` buckets; both
    the target and raw (=df itself, as in the paper) bucket
    distributions are add-one smoothed. Returns
    (id_col, n_features, log_weight) with
    log_weight = sum_f [ ln p_target(b(f)) - ln p_raw(b(f)) ], rounded
    to 6 decimals. Documents with zero features get log_weight 0.

    Scale: two linear bucket-count groupBys (each at most n_buckets
    result rows — broadcastable by construction) + one map-side
    broadcast join + one doc-keyed aggregation.
    """
    doc_feats = df.select(
        id_col,
        F.explode(_hashed_feature_buckets(F.col(text_col), n_buckets)).alias(
            "bucket"
        ),
    )
    tgt_feats = target.select(
        F.explode(
            _hashed_feature_buckets(F.col(target_text_col), n_buckets)
        ).alias("bucket")
    )
    tgt_counts = tgt_feats.groupBy("bucket").agg(F.count("*").alias("ct"))
    raw_counts = doc_feats.groupBy("bucket").agg(F.count("*").alias("cr"))
    tgt_total = tgt_feats.count()
    raw_total = doc_feats.count()
    model = (
        tgt_counts.join(raw_counts, "bucket", "full")
        .select(
            "bucket",
            (
                F.log(
                    (F.coalesce("ct", F.lit(0)) + F.lit(1.0))
                    / F.lit(float(tgt_total + n_buckets))
                )
                - F.log(
                    (F.coalesce("cr", F.lit(0)) + F.lit(1.0))
                    / F.lit(float(raw_total + n_buckets))
                )
            ).alias("log_ratio"),
        )
    )
    agg = (
        doc_feats.join(F.broadcast(model), "bucket", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_features"),
            F.sum("log_ratio").alias("log_weight"),
        )
    )
    return (
        df.select(id_col)
        .join(agg, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_features", F.lit(0)).alias("n_features"),
            F.round(F.coalesce("log_weight", F.lit(0.0)), 6).alias(
                "log_weight"
            ),
        )
    )


def dsir_sample(
    df: DataFrame,
    target: DataFrame,
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    target_text_col: str = "text",
    n_buckets: int = 10_000,
    seed: int = 0,
) -> DataFrame:
    """DSIR Gumbel top-k resampling: select k documents without
    replacement with probability proportional to the importance weight,
    via the Gumbel-max trick with a SEEDED, engine-portable noise
    source: u = (hash60(seed:id) % 10^9 + 1) / (10^9 + 2) in (0,1),
    g = -ln(-ln(u)), key = log_weight + g, take the k largest (ties
    broken by id). Deterministic for a fixed seed — replayable in SQL.

    The top-k is a TakeOrderedAndProject (per-partition heaps + one
    k-row merge), never a full sort.
    """
    w = dsir_log_weights(df, target, id_col, text_col, target_text_col, n_buckets)
    u = (
        (hash60(F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string")))
         % F.lit(1_000_000_000)).cast("double")
        + F.lit(1.0)
    ) / F.lit(1_000_000_002.0)
    keyed = w.select(
        id_col,
        "log_weight",
        F.round(F.col("log_weight") - F.log(-F.log(u)), 6).alias("gumbel_key"),
    )
    return keyed.orderBy(
        F.col("gumbel_key").desc(), F.col(id_col).asc()
    ).limit(k)


def _ngram_pairs(toks_col, n: int):
    """Array of n-gram structs (w1..wn) from a token-array column."""
    size = F.size(toks_col)
    fields = [
        F.slice(toks_col, i + 1, size - F.lit(n - 1)) for i in range(n)
    ]
    if n == 2:
        zipped = F.zip_with(
            fields[0], fields[1],
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        )
    elif n == 3:
        zipped = F.zip_with(
            F.zip_with(
                fields[0], fields[1],
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            ),
            fields[2],
            lambda ab, c: F.struct(
                ab["w1"].alias("w1"), ab["w2"].alias("w2"), c.alias("w3")
            ),
        )
    else:
        raise ValueError("n must be 2 or 3")
    empty = F.array().cast(
        "array<struct<" + ",".join(f"w{i+1}:string" for i in range(n)) + ">>"
    )
    return F.when(size >= n, zipped).otherwise(empty)


def _ngram_structs(toks_col, n: int):
    """Array of n-gram structs (w1..wn) for ANY n >= 2 — element_at
    over an index sequence (the zip_with chain of _ngram_pairs only
    scales to n=3)."""
    size = F.size(toks_col)
    grams = F.transform(
        F.sequence(F.lit(1), size - F.lit(n - 1)),
        lambda i: F.struct(
            *[
                F.element_at(toks_col, i + F.lit(j)).alias(f"w{j + 1}")
                for j in range(n)
            ]
        ),
    )
    empty = F.array().cast(
        "array<struct<" + ",".join(f"w{i+1}:string" for i in range(n)) + ">>"
    )
    return F.when(size >= n, grams).otherwise(empty)


def train_ngram_lm(
    ref: DataFrame,
    n: int = 5,
    text_col: str = "text",
    min_count: int = 2,
) -> tuple[list[DataFrame], int, int]:
    """Count tables for a Jelinek-Mercer-interpolated n-gram LM — the
    CCNet-parity step (Wenzek et al. 2020 score with a 5-gram KenLM;
    KenLM's model is count tables + smoothing, held here as DataFrames
    so training is n linear groupBys and scoring stays equi-joins).

    Returns (counts, vocab_size, total_tokens) where counts[k-1] is the
    k-gram count table (w1..wk, ck) for k = 1..n. Orders >= 3 drop
    rows with ck < min_count (KenLM-style singleton pruning — the
    model table shrinks ~5-10x on web text; a pruned gram scores
    through the lower orders, exactly like backoff). Every groupBy is
    map-side combinable; nothing touches the driver but two scalars."""
    if not 2 <= n <= 6:
        raise ValueError("n must be in [2, 6]")
    toks = ref.select(_tokens(F.col(text_col)).alias("_t"))
    counts: list[DataFrame] = []
    unis = toks.select(F.explode("_t").alias("w1"))
    uni = unis.groupBy("w1").agg(F.count("*").alias("c1"))
    counts.append(uni)
    for k in range(2, n + 1):
        cols = [f"w{i+1}" for i in range(k)]
        ck = (
            toks.select(F.explode(_ngram_structs(F.col("_t"), k)).alias("g"))
            .groupBy(*[F.col(f"g.{c}").alias(c) for c in cols])
            .agg(F.count("*").alias(f"c{k}"))
        )
        if k >= 3 and min_count > 1:
            ck = ck.filter(F.col(f"c{k}") >= min_count)
        counts.append(ck)
    vocab_size = uni.count()
    total_tokens = unis.count()
    return counts, int(vocab_size), int(total_tokens)


def ngram_cross_entropy(
    df: DataFrame,
    counts: list[DataFrame],
    vocab_size: int,
    total_tokens: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    lambdas: tuple[float, ...] | None = None,
) -> DataFrame:
    """Per-document cross-entropy under the interpolated n-gram model
    of `train_ngram_lm`:

      P(w_n | w_1..w_{n-1}) = sum_k l_k * (c_k(w_{n-k+1..n}) + 1)
                                      / (c_{k-1}(w_{n-k+1..n-1}) + V)

    (k = 1 uses total_tokens as the context count). Returns
    (id_col, n_ngrams, cross_entropy, ppl); docs shorter than n tokens
    keep NULLs. Scale shape: one posexplode-free explode of n-gram
    rows, 2(n-1) equi-joins against the count tables (broadcast when
    the model is small), one doc-keyed aggregation — the same join
    plan at any corpus size."""
    n = len(counts)
    if lambdas is None:
        # highest orders weighted most, geometric-ish default
        base = [0.4, 0.25, 0.15, 0.1, 0.06, 0.04][:n]
        s = sum(base)
        lambdas = tuple(x / s for x in reversed(base))  # l1..ln
    if len(lambdas) != n or abs(sum(lambdas) - 1.0) > 1e-9:
        raise ValueError("lambdas must have one weight per order, sum 1")
    toks = df.select(id_col, _tokens(F.col(text_col)).alias("_t"))
    cols = [f"w{i+1}" for i in range(n)]
    g = toks.select(
        id_col, F.explode(_ngram_structs(F.col("_t"), n)).alias("g")
    ).select(id_col, *[F.col(f"g.{c}").alias(c) for c in cols])
    v = float(vocab_size)
    t = float(total_tokens)
    joined = g
    comp = []
    for k in range(1, n + 1):
        # continuation: the k-gram ending at w_n -> columns w_{n-k+1..n}
        cont_keys = cols[n - k:]
        ck_cols = [f"w{i+1}" for i in range(k)]
        cont = counts[k - 1].select(
            *[
                F.col(ck_cols[i]).alias(cont_keys[i])
                for i in range(k)
            ],
            F.col(f"c{k}").alias(f"_cont{k}"),
        )
        joined = joined.join(cont, cont_keys, "left")
        if k == 1:
            denom = F.lit(t + v)
        else:
            ctx_keys = cols[n - k : n - 1]
            ck1_cols = [f"w{i+1}" for i in range(k - 1)]
            ctx = counts[k - 2].select(
                *[
                    F.col(ck1_cols[i]).alias(ctx_keys[i])
                    for i in range(k - 1)
                ],
                F.col(f"c{k-1}").alias(f"_ctx{k}"),
            )
            joined = joined.join(ctx, ctx_keys, "left")
            denom = F.coalesce(f"_ctx{k}", F.lit(0)) + F.lit(v)
        comp.append(
            F.lit(float(lambdas[k - 1]))
            * (F.coalesce(f"_cont{k}", F.lit(0)) + F.lit(1.0))
            / denom
        )
    p = comp[0]
    for c in comp[1:]:
        p = p + c
    agg = (
        joined.select(id_col, (-F.log(p)).alias("_nll"))
        .groupBy(id_col)
        .agg(F.count("*").alias("n_ngrams"), F.avg("_nll").alias("ce"))
    )
    return (
        df.select(id_col)
        .join(agg, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_ngrams", F.lit(0)).alias("n_ngrams"),
            F.round("ce", 6).alias("cross_entropy"),
            F.round(F.exp("ce"), 4).alias("ppl"),
        )
    )


def train_trigram_lm(
    ref: DataFrame, text_col: str = "text"
) -> tuple[DataFrame, DataFrame, DataFrame, int, int]:
    """Count tables for an interpolated trigram LM (the sandbox-scale
    step up toward CCNet's 5-gram KenLM): returns
    (trigrams(w1,w2,w3,c3), bigrams(w1,w2,c2), unigrams(w1,c1),
    vocab_size, total_tokens). Three linear groupBys over the
    reference corpus, all map-side combinable."""
    toks = ref.select(_tokens(F.col(text_col)).alias("_t"))
    tri = (
        toks.select(F.explode(_ngram_pairs(F.col("_t"), 3)).alias("g"))
        .groupBy(F.col("g.w1").alias("w1"), F.col("g.w2").alias("w2"),
                 F.col("g.w3").alias("w3"))
        .agg(F.count("*").alias("c3"))
    )
    bi = (
        toks.select(F.explode(_ngram_pairs(F.col("_t"), 2)).alias("g"))
        .groupBy(F.col("g.w1").alias("w1"), F.col("g.w2").alias("w2"))
        .agg(F.count("*").alias("c2"))
    )
    unis = toks.select(F.explode("_t").alias("w1"))
    uni = unis.groupBy("w1").agg(F.count("*").alias("c1"))
    vocab_size = uni.count()
    total_tokens = unis.count()
    return tri, bi, uni, int(vocab_size), int(total_tokens)


def trigram_cross_entropy(
    df: DataFrame,
    trigrams: DataFrame,
    bigrams: DataFrame,
    unigrams: DataFrame,
    vocab_size: int,
    total_tokens: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    lambdas: tuple[float, float, float] = (0.5, 0.3, 0.2),
) -> DataFrame:
    """Per-document cross-entropy under a Jelinek-Mercer-interpolated
    add-one trigram model:

      P(w3|w1 w2) = l3*(c3+1)/(c2(w1,w2)+V)
                  + l2*(c2(w2,w3)+1)/(c1(w2)+V)
                  + l1*(c1(w3)+1)/(T+V)

    Each component is add-one smoothed so every factor is positive and
    the interpolation needs no backoff bookkeeping — deterministic and
    exactly replayable in SQL. Returns
    (id_col, n_trigrams, cross_entropy, ppl); docs with <3 tokens keep
    NULLs. Five equi-joins against the count tables (context and
    continuation sides), one doc-keyed aggregation."""
    l3, l2, l1 = (float(x) for x in lambdas)
    if abs(l1 + l2 + l3 - 1.0) > 1e-9:
        raise ValueError("lambdas must sum to 1")
    toks = df.select(id_col, _tokens(F.col(text_col)).alias("_t"))
    g = toks.select(
        id_col, F.explode(_ngram_pairs(F.col("_t"), 3)).alias("g")
    ).select(id_col, "g.w1", "g.w2", "g.w3")
    ctx2 = bigrams.select(
        F.col("w1").alias("w1"), F.col("w2").alias("w2"),
        F.col("c2").alias("ctx_c2"),
    )
    cont2 = bigrams.select(
        F.col("w1").alias("w2"), F.col("w2").alias("w3"),
        F.col("c2").alias("cont_c2"),
    )
    ctx1 = unigrams.select(F.col("w1").alias("w2"), F.col("c1").alias("ctx_c1"))
    cont1 = unigrams.select(F.col("w1").alias("w3"), F.col("c1").alias("cont_c1"))
    v = float(vocab_size)
    t = float(total_tokens)
    joined = (
        g.join(trigrams, ["w1", "w2", "w3"], "left")
        .join(ctx2, ["w1", "w2"], "left")
        .join(cont2, ["w2", "w3"], "left")
        .join(ctx1, ["w2"], "left")
        .join(cont1, ["w3"], "left")
    )
    p = (
        F.lit(l3)
        * (F.coalesce("c3", F.lit(0)) + F.lit(1.0))
        / (F.coalesce("ctx_c2", F.lit(0)) + F.lit(v))
        + F.lit(l2)
        * (F.coalesce("cont_c2", F.lit(0)) + F.lit(1.0))
        / (F.coalesce("ctx_c1", F.lit(0)) + F.lit(v))
        + F.lit(l1)
        * (F.coalesce("cont_c1", F.lit(0)) + F.lit(1.0))
        / F.lit(t + v)
    )
    agg = (
        joined.select(id_col, (-F.log(p)).alias("_nll"))
        .groupBy(id_col)
        .agg(F.count("*").alias("n_trigrams"), F.avg("_nll").alias("ce"))
    )
    return (
        df.select(id_col)
        .join(agg, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_trigrams", F.lit(0)).alias("n_trigrams"),
            F.round("ce", 6).alias("cross_entropy"),
            F.round(F.exp("ce"), 4).alias("ppl"),
        )
    )
