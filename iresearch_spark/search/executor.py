"""Query execution on the cluster: AST -> DataFrame plan.

This module holds only the Spark DRIVERS — term-dictionary scans,
Column expressions, the fused mapInArrow decode+score scans and the
distributed WAND path. What a query means (scores, expansion caps and
order, WAND eligibility and bounds, the boolean merge order, the
top-k tie-break) comes from the Spark-free search/semantics.py core
that the hot and embedded tiers share, so all tiers answer alike.

Lifecycle parity with the reference (SURVEY §3.2):

  prepare  = driver-side: planner rewrites + leaf expansion against the
             term_stats table (collect df for the handful of query
             terms; the reference seeks the term dictionary and caches
             cookies, term_filter.cpp:92-128) + per-term score constants
             (the stats blob, bm25.cpp:366-410).
  execute  = ONE declarative DataFrame job:
             postings scan (term predicate pushed into parquet)
               -> mapInArrow block decode + score c0 * g(tf, dl)
                  (the shared numpy kernel)
               -> boolean merge: union + groupBy(doc_id) count and a
                  left fold of the child scores in leaf order
                  (the reference's conjunction/disjunction leapfrog,
                  conjunction.hpp:82-87 / disjunction.hpp:1412-1470 —
                  one shuffle regardless of operator arity)
               -> orderBy(score desc, doc_id asc) LIMIT k
                  (tie-break parity: the reference's heap keeps the
                  earliest doc on ties, utils/index-search.cpp:759)

  WAND     = two-pass block-max pruning (mode="wand"): pass 1 scores the
             highest-upper-bound blocks exhaustively to seed a threshold
             theta (any achieved score is a sound lower bound); pass 2
             drops every block whose upper bound (plus what the other
             terms can add in its doc range) cannot reach theta, then
             runs the exhaustive pipeline on the survivors. Equivalent
             results to exhaustive by construction (differential-tested,
             mirroring tests/search/wand_test.cpp:234-240).

At 100 TB the only shuffles are the groupBy(doc_id) for multi-term
queries (bounded by candidate postings, not corpus size) and the final
top-k reduce; single-term queries shuffle nothing but the per-partition
top-k rows.
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from iresearch_spark.index.model import InvertedIndex
from iresearch_spark.search import ast, planner
from iresearch_spark.search import semantics as sem_
from iresearch_spark.search.semantics import Semantics

RESULT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("score", T.DoubleType(), False),
    ]
)

LEAF_RESULT_SCHEMA = T.StructType(
    RESULT_SCHEMA.fields + [T.StructField("_leaf", T.IntegerType(), False)]
)


@dataclass
class PreparedLeaf:
    """A leaf compiled against the index: a match predicate over the
    postings `term` column plus per-term score weights (c0)."""

    predicate: object  # Column
    weights: dict[str, float]  # term -> c0 (0.0 => matched but unscored)
    single_term: bool = False
    # exact matched-term list when statically known (Term/Terms/Fuzzy):
    # enables term-bucket partition pruning on a saved index
    exact_terms: list | None = None


class SearchEngine:
    def __init__(
        self,
        index: InvertedIndex,
        scorer: str | object = "bm25",
        scored_terms_limit: int = 1024,
        wand_min_postings: int = 0,
        preload_stats: bool = False,
        score_dtype: str = "float64",
    ):
        self.index = index
        # every scoring/expansion/WAND rule — shared with the hot and
        # embedded tiers (search/semantics.py)
        self.sem = Semantics(
            index.field_stats,
            getattr(index, "norm", "norm2"),
            scorer,
            score_dtype,
            scored_terms_limit,
            max_dl=self._max_dl,
        )
        # opt-in WAND pruning observability (costs two tiny jobs over
        # the checkpointed bound table): after a mode="wand" search,
        # last_wand_stats = {blocks_total, blocks_kept, theta}
        self.collect_wand_stats = False
        self.last_wand_stats: dict | None = None
        # mode="wand" falls back to the exhaustive plan when the query
        # terms' total df is below this (pruning overhead beats payoff
        # on tiny candidate sets); 0 = always use WAND when requested
        self.wand_min_postings = wand_min_postings
        # when the estimated per-block meta row count fits this cap,
        # the WAND bound walk runs driver-side (3 Spark jobs instead of
        # ~8 — see _wand_driver_path); above it, fully distributed
        self.wand_driver_meta_cap = 100_000
        self._spark: SparkSession = index.postings.sparkSession
        self._df_cache: dict[str, int] = {}
        self._proxy_cache: dict = {}  # Cached-node materialized results
        # multiterm expansion results keyed by the (frozen, hashable)
        # leaf node — the reference's per-segment seek-cookie cache
        # (term_filter.cpp:92-128 caches prepared term states the same
        # way). Sound because the index view is immutable per engine;
        # lets WAND's seed/survivor passes and repeated executions
        # reuse ONE expansion job.
        self._expansion_cache: dict = {}
        self._stats_preloaded = False
        if preload_stats:
            self.preload_stats()

    def close(self) -> None:
        """Release engine-held caches (Cached-node materializations)."""
        for df in self._proxy_cache.values():
            try:
                df.unpersist()
            except Exception:
                pass
        self._proxy_cache.clear()

    def preload_stats(self) -> None:
        """Materialize the whole term_stats table into the driver-side
        df cache — the analogue of the reference holding its FST term
        dictionary in memory. Removes the per-query stats-lookup Spark
        job (one scheduling floor per query) for exact-term queries.
        Driver memory is vocabulary-sized, so this is OPT-IN: right for
        repeated-query serving where the vocab fits (10^7 terms ~ a few
        hundred MB); leave off for one-shot queries on huge vocabs."""
        for r in self.index.term_stats.select("term", "df").collect():
            self._df_cache[r["term"]] = r["df"]
        self._stats_preloaded = True

    # ------------------------------------------------------------------ API

    def search(
        self, query: ast.Node, k: int = 10, mode: str = "exhaustive"
    ) -> DataFrame:
        """Top-k (doc_id, score), score desc, doc_id asc."""
        df = self._execute(query, k=k, mode=mode)
        return df.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def matches(self, query: ast.Node) -> DataFrame:
        """All matching docs with scores (unordered)."""
        return self._execute(query, k=None, mode="exhaustive")

    def top_docs(
        self,
        k: int = 10,
        query: ast.Node | None = None,
        columns: list[str] | None = None,
    ) -> DataFrame:
        """First k live docs in INDEX ORDER (doc_id asc), optionally
        restricted to a filter's matches.

        On an index built with `sort_field=...` (the reference's
        Comparer, core/index/comparer.hpp: documents laid out in
        comparator order so iteration order == sort order), index order
        IS (sort_field asc|desc, sort_key) — this is the
        sorted-index early-termination shape (e.g. "newest matching
        pages first" without scoring). Spark executes the orderBy+limit
        as TakeOrderedAndProject: per-partition top-k heaps merged on
        the driver, never a full sort — the distributed analogue of the
        reference's cutoff iteration. Columns default to the docs
        table's (doc_id, dl, extra_doc_cols incl. the sort field)."""
        docs = self._apply_delete_mask(self.index.docs)
        ranges = getattr(self.index, "docs_ranges", None)
        if query is None and self.index.deleted is None and ranges:
            # SAVED sorted index: the docs table is doc-id-range
            # partitioned with per-file [min, max, rows] in the
            # manifest — read ONLY the head files covering k rows (the
            # reference's in-order iteration stopping at k; at 10^12
            # docs this touches O(k / rows-per-file) files, not the
            # corpus). Deletes disable the shortcut (masked rows make
            # per-file counts stale); filtered queries keep the
            # TakeOrderedAndProject full plan (selectivity unknown).
            acc, sel = 0, []
            for f, _mn, _mx, n in ranges:  # sorted by min_doc
                sel.append(f)
                acc += n
                if acc >= k:
                    break
            docs = self._spark.read.parquet(*sel)
        elif query is not None:
            m = self._execute(query, k=None, mode="exhaustive")
            docs = docs.join(m.select("doc_id"), "doc_id", "semi")
        out = docs.orderBy(F.asc("doc_id")).limit(k)
        return out.select(*columns) if columns else out

    def search_many(
        self,
        queries: dict[str, ast.Node],
        k: int = 10,
        mode: str = "exhaustive",
    ) -> DataFrame:
        """Batched top-k for MANY queries as ONE DataFrame job:
        (query, doc_id, score), rows ordered (query, score desc,
        doc_id asc). Results per query are identical to `search()`.

        Query THROUGHPUT (the reference benchmark's q/s metric,
        scripts/search-benchmark.sh) on Spark is bounded by the
        ~0.3s/job scheduling floor when queries run one at a time.
        Shapes whose leaves expand to known term sets (Term / Terms /
        Prefix / Wildcard / Range / Fuzzy, alone or under a sum-merge
        And/Or without exclusions) share ONE fused postings scan over
        the union of all their terms: the scan emits raw per-(term,
        doc) factors once, a broadcast (term, query, child, c0) fan-out
        assigns them, and one groupBy + one window produce every
        query's top-k. Plain-string Phrase / SamePosition queries share
        ONE positions decode the same way. Other shapes fall back to
        unioned per-query subplans (still one job). In WAND mode the
        shared scans are used unchanged — WAND's top-k is
        result-identical to exhaustive, and the batch amortizes the
        scan instead of pruning it."""
        if not queries:
            return self._spark.createDataFrame(
                [], "query string, doc_id long, score double"
            )
        batched: dict[str, tuple] = {}
        phrased: dict[str, tuple] = {}
        rest: dict[str, ast.Node] = {}
        for name, node in queries.items():
            if self.sem.f32:
                # parity mode: the shared-scan fan-out multiplies c0
                # JVM-side in float64 — route through per-query plans
                # (which carry the exact float32 op chain) instead
                rest[name] = node
                continue
            norm = planner.normalize(node)
            shape = self._batchable(norm)
            if shape is not None:
                prep = self._prepare_batch_leaves(shape)
                if prep is not None:
                    batched[name] = prep
                    continue
            pshape = self._batchable_phrase(norm)
            if pshape is not None:
                phrased[name] = pshape
                continue
            rest[name] = node
        parts = []
        if batched:
            parts.append(self._search_many_shared(batched, k))
        if phrased:
            parts.append(self._search_many_phrases(phrased, k))
        for name, node in rest.items():
            topk = self.search(node, k=k, mode=mode)
            parts.append(topk.select(F.lit(name).alias("query"), "doc_id", "score"))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.orderBy("query", F.desc("score"), F.asc("doc_id"))

    _BATCH_LEAVES = (ast.Term, ast.Terms) + sem_.EXPANSION_LEAVES

    def _batchable(self, norm: ast.Node):
        """(positives, negatives, required, boost) when the normalized
        node fits the shared-scan batch shape, else None: an expandable
        leaf, or a sum-merge And/Or whose children are expandable leaves
        or Not-wrapped expandable leaves (exclusions ride the same scan:
        their terms' factor rows flag the doc instead of scoring it)."""
        if isinstance(norm, self._BATCH_LEAVES):
            return ([norm], [], 1, 1.0)
        if isinstance(norm, (ast.And, ast.Or)) and norm.merge_type == "sum":
            pos, optional, neg, req = sem_.bool_parts(norm)
            if optional or not pos or not all(
                isinstance(c, self._BATCH_LEAVES) for c in pos + neg
            ):
                return None
            return (pos, neg, req, norm.boost)
        return None

    def _prepare_batch_leaves(self, shape):
        """Expand every child leaf to its (term -> c0) weights. Returns
        (req, [(child_idx, weights, is_exclusion)]) or None when some
        child's expansion hit the scored_terms_limit cap INCOMPLETE (a
        Prefix/Wildcard/Range matching more terms than expanded must
        fall back to its predicate-scan subplan to stay identical to
        search() — for an exclusion an incomplete expansion would fail
        to exclude, so it falls back too)."""
        positives, negatives, req, boost = shape
        out = []
        for ci, c in enumerate(positives):
            leaf = self._prepare_leaf(c, boost)
            if leaf.weights and leaf.exact_terms is None:
                return None
            out.append((ci, leaf.weights, False))
        for c in negatives:
            leaf = self._prepare_leaf(c, 1.0)
            if leaf.weights and leaf.exact_terms is None:
                return None
            out.append((-1, leaf.weights, True))
        return (int(req), out)

    def _batchable_phrase(self, norm: ast.Node):
        """(terms, offsets, boost) for plain-string Phrase/SamePosition
        (variadic slots keep their per-query subplan)."""
        if isinstance(norm, (ast.Phrase, ast.SamePosition)) and all(
            isinstance(p, str) for p in norm.terms
        ):
            return (list(norm.terms), sem_.slot_offsets(norm), norm.boost)
        return None

    def _topk_per_query(self, scored: DataFrame, k: int) -> DataFrame:
        if self.index.deleted is not None:
            scored = scored.join(
                self.index.deleted.select("doc_id"), "doc_id", "left_anti"
            )
        from pyspark.sql import Window

        w = Window.partitionBy("query").orderBy(
            F.desc("score"), F.asc("doc_id")
        )
        return (
            scored.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") <= k)
            .select("query", "doc_id", "score")
        )

    def _search_many_shared(self, batched: dict[str, tuple], k: int) -> DataFrame:
        # membership rows: (term, query, child idx, term rank within the
        # child, c0, required count, exclusion flag). A positive child
        # with an empty expansion contributes no rows — an And then
        # fails the countDistinct(_child) >= req filter naturally.
        # Exclusion terms ride the SAME scan: their rows score nothing
        # and any hit drops the (query, doc) via the max(_neg) == 0
        # filter.
        rows = []
        for name, (req, kids) in batched.items():
            for ci, weights, is_neg in kids:
                for lc, t in enumerate(sorted(weights)):
                    rows.append(
                        (t, name, int(ci), lc, float(weights[t]), int(req),
                         int(is_neg))
                    )
        if not rows:
            return self._spark.createDataFrame(
                [], "query string, doc_id long, score double"
            )
        uniq = list(dict.fromkeys(r[0] for r in rows))
        leaf_of = {t: i for i, t in enumerate(uniq)}
        # ONE fused scan over the union of terms, emitting the RAW
        # per-(term, doc) factor g(tf, dl) tagged with the term index
        weights = {t: 1.0 for t in uniq}
        blocks = self.index.postings_for_terms(uniq)
        slim = blocks.select("term", "n_docs", "docs", "dls").repartition(
            self._spark.sparkContext.defaultParallelism
        )
        fused = _make_fused_scorer(
            weights, self.sem.scorer_params(), None, leaf_of=leaf_of
        )
        factors = slim.mapInArrow(fused, LEAF_RESULT_SCHEMA)
        memb = self._spark.createDataFrame(
            [(leaf_of[r[0]],) + r[1:] for r in rows],
            "_leaf int, query string, _child int, _lc int, _c0 double, "
            "_req int, _neg int",
        )
        pos = F.col("_neg") == 0
        # the score folds exactly as search() nests it: each child's
        # terms left-folded in term order, then the children in child
        # order (semantics.fold_sum) — one pass over the sorted
        # (child, term) contributions with a (child, child sum, total)
        # accumulator
        contrib = F.array_sort(
            F.collect_list(
                F.struct(
                    "_child",
                    "_lc",
                    F.when(pos, F.col("_c0") * F.col("score"))
                    .otherwise(0.0)
                    .alias("score"),
                )
            )
        )

        def step(acc, x):
            same = F.struct(
                acc["c"].alias("c"),
                (acc["a"] + x["score"]).alias("a"),
                acc["t"].alias("t"),
            )
            nxt = F.struct(
                x["_child"].alias("c"),
                x["score"].alias("a"),
                (acc["t"] + acc["a"]).alias("t"),
            )
            return F.when(x["_child"] == acc["c"], same).otherwise(nxt)

        zero = F.struct(
            F.lit(-2).alias("c"), F.lit(0.0).alias("a"), F.lit(0.0).alias("t")
        )
        merged = (
            factors.join(F.broadcast(memb), "_leaf")
            .groupBy("query", "doc_id")
            .agg(
                F.aggregate(
                    contrib, zero, step, lambda acc: acc["t"] + acc["a"]
                ).alias("score"),
                F.countDistinct(F.when(pos, F.col("_child"))).alias("_cnt"),
                F.max("_neg").alias("_ex"),
                F.first("_req").alias("_req"),
            )
            .filter((F.col("_cnt") >= F.col("_req")) & (F.col("_ex") == 0))
        )
        return self._topk_per_query(merged, k)

    def _search_many_phrases(self, phrased: dict[str, tuple], k: int) -> DataFrame:
        """All plain phrases in ONE positions decode over the union of
        their terms + two bounded groupBys: decoded rows fan out to
        (query, slot) via a broadcast membership join, per-slot distinct
        shifted-position sets aggregate per (query, doc), and phrase
        freq = |∩ slots| exactly as _eval_positional computes it."""
        memb_rows = []
        c0_rows = []
        for name, (terms, offsets, boost) in phrased.items():
            dfs = self._term_dfs(list(dict.fromkeys(terms)))
            weight = self.sem.phrase_weight([[(t, dfs[t])] for t in terms], boost)
            if weight is None:
                continue  # a dead slot -> the phrase matches nothing
            c0_rows.append((name, float(weight[1])))
            for i, (t, off) in enumerate(zip(terms, offsets)):
                memb_rows.append((t, name, int(i), int(off), len(terms)))
        if not memb_rows:
            return self._spark.createDataFrame(
                [], "query string, doc_id long, score double"
            )
        uniq = list(dict.fromkeys(r[0] for r in memb_rows))
        decoded = self.index.decoded_postings(terms=uniq, with_positions=True)
        memb = self._spark.createDataFrame(
            memb_rows, "term string, query string, _slot int, _off int, _m int"
        )
        joined = decoded.join(F.broadcast(memb), "term").select(
            "query",
            "doc_id",
            "dl",
            "_slot",
            "_m",
            F.transform(
                F.col("positions"), lambda x: x - F.col("_off")
            ).alias("_sp"),
        )
        per_slot = joined.groupBy("query", "doc_id", "_slot").agg(
            F.array_distinct(F.flatten(F.collect_list("_sp"))).alias("_p"),
            F.min("dl").alias("dl"),
            F.first("_m").alias("_m"),
        )
        agged = (
            per_slot.groupBy("query", "doc_id")
            .agg(
                F.collect_list("_p").alias("_ps"),
                F.min("dl").alias("dl"),
                F.first("_m").alias("_m"),
                F.count(F.lit(1)).alias("_ns"),
            )
            .filter(F.col("_ns") == F.col("_m"))  # every slot present
        )
        inter = F.aggregate(
            F.slice(F.col("_ps"), 2, F.size("_ps")),
            F.element_at(F.col("_ps"), 1),
            lambda acc, a: F.array_intersect(acc, a),
        )
        freq_df = agged.select(
            "query", "doc_id", F.size(inter).alias("freq"), "dl"
        ).filter(F.col("freq") > 0)
        c0df = self._spark.createDataFrame(c0_rows, "query string, _c0 double")
        scored = self._positional_scores(
            freq_df.join(F.broadcast(c0df), "query"), ["query", "doc_id"]
        )
        return self._topk_per_query(scored, k)

    def explain(self, query: ast.Node, k: int = 10, mode: str = "exhaustive"):
        self.search(query, k, mode).explain("formatted")

    def highlight(
        self, terms: list[str], doc_ids: DataFrame | None = None
    ) -> DataFrame:
        """Character spans of the given (already-analyzed) terms:
        (doc_id, term, start, length) per occurrence — the reference's
        OFFS posting feature (index_features.hpp:50-57) surfaced for
        highlighting/snippet workloads. Requires an index built with
        with_offsets=True. `doc_ids` (a DataFrame with a doc_id column,
        e.g. a top-k result) restricts the decode to those docs."""
        if not self.index.with_offsets:
            raise ValueError("index was built without offsets")
        dec = self._occurrences(terms, doc_ids, with_offsets=True)
        return dec.select(
            "doc_id",
            "term",
            F.explode(
                F.arrays_zip(
                    F.col("off_starts").alias("start"),
                    F.col("off_lens").alias("length"),
                )
            ).alias("_o"),
        ).select(
            "doc_id",
            "term",
            F.col("_o.start").alias("start"),
            F.col("_o.length").alias("length"),
        )

    def payloads(
        self, terms: list[str], doc_ids: DataFrame | None = None
    ) -> DataFrame:
        """Per-occurrence payload bytes of the given (already-analyzed)
        terms: (doc_id, term, occurrence, payload) — the reference's
        PAY posting feature (index_features.hpp:40-58; payload stream
        formats_10.cpp:714-765) surfaced as a DataFrame. `occurrence`
        is the 1-based index among the term's occurrences within the
        doc (position order). Requires an index built with
        payload_delimiter=...; `doc_ids` restricts the decode like
        highlight()."""
        if not self.index.with_payloads:
            raise ValueError("index was built without payloads")
        dec = self._occurrences(terms, doc_ids, with_payloads=True)
        return dec.select(
            "doc_id",
            "term",
            F.posexplode(F.col("payloads")).alias("_i", "payload"),
        ).select(
            "doc_id",
            "term",
            (F.col("_i") + 1).cast("int").alias("occurrence"),
            "payload",
        )

    def _occurrences(self, terms, doc_ids, **feature) -> DataFrame:
        """Live decoded postings of `terms` with an occurrence feature,
        restricted to `doc_ids` when given."""
        dec = self.index.decoded_postings(terms=list(terms), **feature)
        if doc_ids is not None:
            dec = dec.join(
                F.broadcast(doc_ids.select("doc_id")), "doc_id", "left_semi"
            )
        return self._apply_delete_mask(dec)

    # ------------------------------------------------------ prepare helpers

    def _term_dfs(self, terms: list[str]) -> dict[str, int]:
        missing = [t for t in terms if t not in self._df_cache]
        if missing and self._stats_preloaded:
            # the cache holds the ENTIRE vocabulary — absent terms have
            # df 0, no Spark round-trip needed
            for t in missing:
                self._df_cache[t] = 0
            missing = []
        if missing:
            rows = (
                self.index.term_stats_for_terms(missing)
                .filter(F.col("term").isin(missing))
                .select("term", "df")
                .collect()
            )
            found = {r["term"]: r["df"] for r in rows}
            for t in missing:
                self._df_cache[t] = found.get(t, 0)
        return {t: self._df_cache[t] for t in terms}

    def _wildcard_expand_plan(self, pattern: str):
        """(source_df_or_None, bounds_kwargs) for a wildcard's
        dictionary expansion, most-selective seek first: a literal
        prefix >= 3 chars prunes the forward dictionary by interval; a
        literal suffix >= 3 chars seeks the reversed one; otherwise
        the pattern's required 3-grams drive a k-gram-index candidate
        lookup (the Spark analogue of the reference's
        automaton-intersected FST walk, wildcard_utils.cpp); short
        prefixes/suffixes remain the interval fallback, and only a
        pattern with no usable literal material on an index with no
        gram layout scans the full vocabulary."""
        litp = sem_.wildcard_literal_prefix(pattern)
        suf = sem_.wildcard_literal_suffix(pattern)

        def by_prefix():
            hi = sem_.prefix_successor(litp)
            return None, dict(lo=litp, hi=hi, hi_inclusive=False)

        def by_suffix():
            rsuf = suf[::-1]
            src, _, _ = self.index.pruned_rev_term_stats(
                rsuf, sem_.prefix_successor(rsuf)
            )
            return src, {}

        if len(litp) >= 3:
            return by_prefix()
        if len(suf) >= 3:
            return by_suffix()
        grams = sem_.wildcard_required_grams(pattern)
        if grams:
            cand = self.index.gram_candidate_terms(grams, len(grams))
            if cand is not None:
                return cand, {}
        if litp:
            return by_prefix()
        if suf:
            return by_suffix()
        return None, {}

    def _expand(
        self,
        predicate,
        limit: int,
        lo: str | None = None,
        hi: str | None = None,
        hi_inclusive: bool = True,
        source=None,
    ) -> tuple[list[tuple[str, int]], bool]:
        """Expand a multi-term leaf against term_stats: its capped
        (df desc, term asc) head and completeness (semantics.capped —
        the reference's limited_sample_collector, scored_terms_limit).
        On a saved index the [lo, hi] term interval prunes whole
        dictionary files via the manifest's per-file min/max map (the
        FST seek analogue) — the predicate still applies exactly, so
        pruning never changes the expansion. Leading-wildcard and
        unprefixed-fuzzy leaves have no interval and scan the full
        dictionary (the documented trade vs the reference's
        automaton-intersected FST walk)."""
        if source is not None:
            src = source  # caller-pruned (e.g. the reversed dictionary)
        else:
            src, _, _ = self.index.pruned_term_stats(lo, hi, hi_inclusive)
        rows = (
            src.filter(predicate)
            .orderBy(*_order_cols(sem_.TERM_ORDER))
            .limit(limit)
            .select("term", "df")
            .collect()
        )
        return sem_.capped([(r["term"], r["df"]) for r in rows], limit)

    def _max_dl(self) -> int:
        """Max doc length of an index predating the manifest field —
        one tiny agg (see Semantics.max_dl)."""
        row = self.index.docs.agg(F.max("dl").alias("m")).collect()[0]
        return int(row["m"] or 0)

    def _block_g_ub(self):
        """Per-block upper bound on g(tf, dl) as a Column — the Spark
        form of Semantics.block_g_ub (the max over the block's impact
        pairs when present, else the loose g(block_max_freq,
        block_min_dl))."""
        g = lambda tf, dl: self.sem.g(tf, dl, ColumnOps)  # noqa: E731
        loose = g(F.col("block_max_freq"), F.col("block_min_dl"))
        tight = F.array_max(
            F.transform(F.col("block_impacts"), lambda x: g(x["tf"], x["dl"]))
        )
        return F.when(F.col("block_impacts").isNotNull(), tight).otherwise(
            loose
        )

    def _positional_scores(self, rows: DataFrame, keys: list[str]) -> DataFrame:
        """(*keys, _c0, freq, dl) rows -> (*keys, score): the shared
        score chain (semantics.score_expr) as a JVM expression, in
        either dtype."""
        score = sem_.score_expr(
            self.sem.scorer_params(),
            F.col("_c0"),
            F.col("freq"),
            F.col("dl"),
            ColumnOps,
        )
        return rows.select(*keys, score.alias("score"))

    def _prepare_leaf(self, node: ast.Node, boost: float) -> PreparedLeaf:
        boost = boost * node.boost  # boost multiplies down the tree
        col = F.col("term")
        c0 = self.sem.c0
        if isinstance(node, ast.Term):
            dfs = self._term_dfs([node.term])
            return PreparedLeaf(
                predicate=col == node.term,
                weights={node.term: c0(dfs[node.term], boost)},
                single_term=True,
                exact_terms=[node.term],
            )
        if isinstance(node, ast.Terms):
            terms = list(dict.fromkeys(node.terms))
            return PreparedLeaf(
                predicate=col.isin(terms),
                weights=self.sem.terms_weights(
                    node, self._term_dfs(terms), boost
                ),
                exact_terms=terms,
            )
        if isinstance(node, ast.Prefix):
            pred = col.startswith(node.prefix)
        elif isinstance(node, ast.Wildcard):
            pred = col.rlike(sem_.like_to_regex(node.pattern))
        elif isinstance(node, ast.Range):
            pred = self._range_pred(node, col)
        elif isinstance(node, ast.Fuzzy):
            pred = None
        else:
            raise TypeError(f"not a leaf: {node}")
        expanded, complete = self._leaf_expansion(node)
        terms = [t for t, _ in expanded]
        if pred is None:
            pred = col.isin(terms) if terms else F.lit(False)
        return PreparedLeaf(
            predicate=pred,
            weights={t: c0(d, boost) for t, d in expanded},
            # expansion below the cap is COMPLETE: the leaf matches
            # exactly these terms, unlocking bucket pruning + the
            # decode-spread shuffle of the exact-term path
            exact_terms=(
                (terms or None) if isinstance(node, ast.Fuzzy)
                else terms if complete else None
            ),
        )

    @staticmethod
    def _range_pred(node: ast.Range, col):
        conds = []
        if node.min_term is not None:
            conds.append(
                col >= node.min_term
                if node.include_min
                else col > node.min_term
            )
        if node.max_term is not None:
            conds.append(
                col <= node.max_term
                if node.include_max
                else col < node.max_term
            )
        pred = conds[0] if conds else F.lit(True)
        for c in conds[1:]:
            pred = pred & c
        return pred

    def _leaf_expansion(
        self, node: ast.Node
    ) -> tuple[list[tuple[str, int]], bool]:
        """([(term, df)], complete) for a multiterm-expansion leaf
        (Prefix/Wildcard/Range/Fuzzy). `complete` means the leaf
        matches EXACTLY these terms (expansion finished below its
        cap — always true for Fuzzy, whose max_terms cap IS the leaf
        semantics); an incomplete expansion leaves the pattern
        predicate authoritative and only the sampled terms scored.
        Results are cached per (frozen, hashable) node — the
        reference's prepared-query seek-cookie cache — so WAND's
        seed/survivor re-evaluations and repeated executions pay for
        ONE expansion job."""
        hit = self._expansion_cache.get(node)
        if hit is not None:
            return hit
        if isinstance(node, ast.Prefix):
            out = self._expand(
                F.col("term").startswith(node.prefix),
                self.sem.expansion_limit(node),
                lo=node.prefix,
                hi=sem_.prefix_successor(node.prefix),
                hi_inclusive=False,
            )
        elif isinstance(node, ast.Wildcard):
            wsrc, wkw = self._wildcard_expand_plan(node.pattern)
            out = self._expand(
                F.col("term").rlike(sem_.like_to_regex(node.pattern)),
                self.sem.expansion_limit(node),
                source=wsrc,
                **wkw,
            )
        elif isinstance(node, ast.Range):
            out = self._expand(
                self._range_pred(node, F.col("term")),
                self.sem.expansion_limit(node),
                lo=node.min_term,
                hi=node.max_term,
                hi_inclusive=node.include_max,
            )
        elif isinstance(node, ast.Fuzzy):
            out = (self._fuzzy_candidates(node), True)
        else:
            raise TypeError(f"not an expansion leaf: {node}")
        self._expansion_cache[node] = out
        return out

    def _fuzzy_candidates(self, node: ast.Fuzzy) -> list[tuple[str, int]]:
        """Edit-distance term expansion over the distinct-term table,
        behind a cheap length-band prefilter (semantics.fuzzy_band) so
        the O(len^2) DP runs only on plausible terms — at 10^8-term
        vocabularies the band cuts the scan by ~the length
        distribution's spread. Cap to max_terms by semantics.FUZZY_ORDER
        (distance asc, df desc, term asc). Plain Levenshtein runs
        JVM-side with the threshold short-circuit; transpositions
        (Damerau/OSA — the reference's parametric DFA with
        with_transpositions) run as an Arrow-batched pandas pass over
        the banded vocabulary slice."""
        plen = len(node.prefix)
        # exact-prefix option (levenshtein_filter.hpp:49): candidates
        # start with the prefix verbatim, distance applies to the rest
        fuzzed = (
            F.expr(f"substring(term, {plen + 1})")
            if plen
            else F.col("term")
        )
        ts_src = self.index.term_stats
        if plen:
            # the exact-prefix option pins a term interval -> dictionary
            # file pruning on a saved index
            ts_src, _, _ = self.index.pruned_term_stats(
                node.prefix,
                sem_.prefix_successor(node.prefix),
                hi_inclusive=False,
            )
        else:
            # unprefixed fuzzy: q-gram count filtering (the public
            # approximate-string-join lemma — Gravano et al., VLDB'01).
            # One edit destroys at most q distinct padded 3-grams of
            # the query (q+1 for a transposition, which touches two
            # adjacent positions), so every term within distance d
            # shares >= |G(s)| - d*q of them. When that bound is
            # positive, a k-gram-index candidate lookup replaces the
            # full vocabulary scan (the Levenshtein-automaton ∩ FST
            # analogue, levenshtein_utils.cpp); the exact banded DP
            # below still verifies every candidate, so the prefilter
            # never changes results.
            padded = "\x02" + node.term + "\x03"
            qgrams = sorted(
                {padded[i : i + 3] for i in range(len(padded) - 2)}
            )
            per_edit = 4 if node.transpositions else 3
            thresh = len(qgrams) - per_edit * node.distance
            if thresh >= 1:
                cand = self.index.gram_candidate_terms(qgrams, thresh)
                if cand is not None:
                    ts_src = cand
        banded = ts_src.filter(F.length("term").between(*sem_.fuzzy_band(node)))
        if plen:
            banded = banded.filter(F.col("term").startswith(node.prefix))
        if node.transpositions:
            dmax = node.distance

            def osa(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                for pdf in batches:
                    d = sem_.fuzzy_distances(node, pdf["term"].to_numpy())
                    out = pdf.assign(distance=d)
                    yield out[out["distance"] <= dmax][["term", "df", "distance"]]

            # JVM prefilter before the Python DP: every transposition
            # costs <= 2 plain edits, so OSA <= d implies
            # levenshtein <= 2d — the short-circuited JVM DP throws
            # away almost the whole vocabulary slice before anything
            # crosses the Arrow boundary (at 10^8 terms the Python
            # stage sees only the 2d-neighborhood)
            lev_band = F.levenshtein(fuzzed, F.lit(node.term), 2 * dmax)
            scored = (
                banded.filter(
                    (lev_band >= 0) & (lev_band <= 2 * dmax)
                )
                .select("term", F.col("df").cast("long").alias("df"))
                .mapInPandas(osa, "term string, df long, distance int")
            )
        else:
            dist = F.levenshtein(
                fuzzed, F.lit(node.term), node.distance
            )  # threshold arg short-circuits the DP (returns -1 above it)
            scored = banded.withColumn("distance", dist).filter(
                (F.col("distance") >= 0) & (F.col("distance") <= node.distance)
            )
        rows = (
            scored.orderBy(*_order_cols(sem_.FUZZY_ORDER))
            .limit(node.max_terms)
            .select("term", "df")
            .collect()
        )
        return [(r["term"], r["df"]) for r in rows]

    # ------------------------------------------------------ execute helpers

    def _empty(self) -> DataFrame:
        return self._spark.createDataFrame([], RESULT_SCHEMA)

    def _weights_df(self, weights: dict[str, float]) -> DataFrame:
        rows = [(t, float(w)) for t, w in weights.items()]
        return self._spark.createDataFrame(rows, "term string, w double")

    def _eval_leaf_df(
        self,
        leaf: PreparedLeaf,
        postings: DataFrame | None = None,
        local_topk: int | None = None,
    ) -> DataFrame:
        """leaf -> (doc_id, score), one row per matching doc.

        Decode + score run FUSED in one mapInArrow pass (the c0 weights
        are a tiny closure dict; the score is semantics.score_expr over
        numpy arrays) so only (doc_id, score)
        ever crosses back to the JVM — the decoded-rows transfer was
        the dominant query cost. For a root-level single-term query
        `local_topk` additionally reduces each partition's output to
        its k best candidates (a doc appears in exactly one block of a
        term, so per-partition top-k is sound pre-aggregation)."""
        if postings is not None:
            blocks = postings.filter(leaf.predicate)
        elif leaf.exact_terms is not None:
            blocks = self.index.postings_for_terms(leaf.exact_terms)
        else:
            blocks = self.index.postings.filter(leaf.predicate)
        slim = blocks.select("term", "n_docs", "docs", "dls")
        if leaf.exact_terms is not None:
            # narrow exact-term scans land in one bucket file — a tiny
            # blob shuffle buys decode parallelism. Broad predicate
            # leaves (prefix/wildcard/range, full matches()) already
            # span many partitions; shuffling ALL their blobs would
            # move most of the index, so they decode in place.
            slim = slim.repartition(
                self._spark.sparkContext.defaultParallelism
            )
        if leaf.single_term:
            fused = _make_fused_scorer(
                dict(leaf.weights), self.sem.scorer_params(), local_topk
            )
            return slim.mapInArrow(fused, RESULT_SCHEMA)
        # a doc's per-term scores fold in term order (every tier sums a
        # multi-term leaf this way; unscored terms add 0.0 anywhere)
        fused = _make_fused_scorer(
            dict(leaf.weights),
            self.sem.scorer_params(),
            None,
            leaf_of={t: i for i, t in enumerate(sorted(leaf.weights))},
        )
        return (
            slim.mapInArrow(fused, LEAF_RESULT_SCHEMA)
            .groupBy("doc_id")
            .agg(_fold_scores(False))
        )

    def _eval(self, node: ast.Node, boost: float, postings=None) -> DataFrame:
        """node -> (doc_id, score) DataFrame, unique per doc."""
        if isinstance(node, ast.Empty):
            return self._empty()
        if isinstance(node, ast.AllDocs):
            return self.index.docs.select(
                "doc_id",
                F.lit(self.sem.const_score(node.boost * boost)).alias("score"),
            )
        if isinstance(node, (ast.Phrase, ast.SamePosition)):
            expand = lambda p: self._leaf_expansion(p)[0]  # noqa: E731
            return self._eval_positional(
                [sem_.slot_candidates(p, self._term_dfs, expand) for p in node.terms],
                sem_.slot_offsets(node),
                node.boost * boost,
            )
        if isinstance(node, ast.Exists):
            cols = sem_.exists_columns(node, self.index.docs.columns)
            if cols[0] not in self.index.docs.columns:
                raise ValueError(
                    f"docs table has no column {node.column!r}; build "
                    "the index with extra_doc_cols=[...] to store it"
                )
            pred = F.col(cols[0]).isNotNull()
            for c in cols[1:]:
                pred = pred | F.col(c).isNotNull()
            return self.index.docs.filter(pred).select(
                "doc_id",
                F.lit(self.sem.const_score(node.boost * boost)).alias("score"),
            )
        if isinstance(node, ast.NumericRange):
            if node.column not in self.index.docs.columns:
                raise ValueError(
                    f"docs table has no column {node.column!r}; build the "
                    "index with extra_doc_cols=[...] to store it"
                )
            col = F.col(node.column)
            pred = col.isNotNull()
            if node.min_val is not None:
                pred = pred & (
                    col >= node.min_val if node.include_min else col > node.min_val
                )
            if node.max_val is not None:
                pred = pred & (
                    col <= node.max_val if node.include_max else col < node.max_val
                )
            return self.index.docs.filter(pred).select(
                "doc_id",
                F.lit(self.sem.const_score(node.boost * boost)).alias("score"),
            )
        if isinstance(node, ast.GranularRange):
            return self._eval_granular(node, boost)
        if isinstance(node, ast.Cached):
            key = node.child
            if key not in self._proxy_cache:
                # materialize + cache the child's result once; later
                # executions reuse the in-memory (doc_id, score) table
                # (the reference's proxy_filter bitset cache)
                df = self._eval(node.child, 1.0).cache()
                df.count()
                self._proxy_cache[key] = df
            cached = self._proxy_cache[key]
            b = float(node.boost * boost)
            if b == 1.0:
                return cached
            return cached.select(
                "doc_id", (F.col("score") * F.lit(b)).alias("score")
            )
        if isinstance(node, ast.Field):
            # field-scoped subtree (reference per-leaf field names): the
            # wrapped query evaluates against THAT field's postings +
            # stats (its own df/N/avg_dl/norms — the reference's
            # field_meta / per-field FieldCollector, bm25.cpp:45-80) and
            # the (doc_id, score) result composes here because every
            # field index shares the deterministic doc-id space
            engines = getattr(self, "_field_engines", None) or {}
            eng = engines.get(node.field)
            if eng is None:
                raise ValueError(
                    f"no indexed field {node.field!r} — query a "
                    "MultiFieldEngine over indexes built by "
                    "build_multi_field_index"
                )
            return eng._eval(node.child, boost * node.boost)
        if isinstance(node, ast.Nested):
            return self._eval_nested(node, boost)
        if isinstance(node, ast.NgramSimilarity):
            return self._eval_ngram_similarity(node, boost)
        if isinstance(node, (ast.And, ast.Or)):
            return self._eval_bool(node, boost, postings)
        if isinstance(node, ast.Not):
            raise ValueError("Not is only valid inside And/Or")
        if isinstance(node, ast.Should):
            raise ValueError("Should is only valid as a child of And")
        leaf = self._prepare_leaf(node, boost)
        return self._eval_leaf_df(leaf, postings)

    def _eval_bool(self, node, boost: float, postings=None) -> DataFrame:
        boost = boost * node.boost
        # Should children score like any positive but never count toward
        # `required` — a per-row _leaf flag keeps the fused-scan fold
        # applicable to them
        positives, optional_idx, negatives, required = sem_.bool_parts(node)
        # fold all plain-Term children into ONE fused scan: a single
        # postings read + decode+score pass emits (doc_id, score, _leaf)
        # for every folded term — n-term booleans cost one Python stage
        # instead of n (duplicated terms fall back to per-leaf eval so
        # each child keeps its own leaf id)
        term_children = [
            (i, c) for i, c in enumerate(positives) if isinstance(c, ast.Term)
        ]
        seen_terms = [c.term for _, c in term_children]
        fold = term_children if len(set(seen_terms)) == len(seen_terms) else []
        folded_idx = {i for i, _ in fold}
        parts = []
        if fold:
            # one fused scan for ALL plain-Term children — also under a
            # restricted postings set (the WAND survivor scan): without
            # this the pruned re-evaluation ran one scan PER child,
            # which alone made forced WAND slower than exhaustive
            dfs = self._term_dfs([c.term for _, c in fold])
            weights = {
                c.term: self.sem.c0(dfs[c.term], boost * c.boost) for _, c in fold
            }
            leaf_of = {c.term: i for i, c in fold}
            if postings is None:
                blocks = self.index.postings_for_terms(list(weights))
            else:
                blocks = postings.filter(F.col("term").isin(list(weights)))
            slim = blocks.select("term", "n_docs", "docs", "dls").repartition(
                self._spark.sparkContext.defaultParallelism
            )
            fused = _make_fused_scorer(
                weights, self.sem.scorer_params(), None, leaf_of=leaf_of
            )
            parts.append(slim.mapInArrow(fused, LEAF_RESULT_SCHEMA))
        for i, c in enumerate(positives):
            if i in folded_idx and fold:
                continue
            parts.append(
                self._eval(c, boost, postings).withColumn(
                    "_leaf", F.lit(i).cast("int")
                )
            )
        if not parts:
            return self._empty()
        unioned = parts[0]
        for p in parts[1:]:
            unioned = unioned.unionByName(p)
        # every leaf emits each doc at most once, so count == distinct
        # leaf count (countDistinct would force a dedup expansion).
        # Child scores merge per ScoreMergeType (scorer.hpp:224-235):
        # sum (default — the fixed leaf-order fold, float32 in parity
        # mode: the reference sums in child iterator order), max
        # (dismax/best-field), min, or noop (score untouched ->
        # constant 0).
        merge = node.merge_type
        if merge in ("max", "min"):
            score_agg = getattr(F, merge)("score").alias("score")
        else:
            score_agg = _fold_scores(self.sem.f32)
        if optional_idx:
            # optional (Should) leaves score but don't count toward
            # `required`: a 0/1 flag per row, summed instead of count
            cnt_agg = F.sum(
                F.when(
                    F.col("_leaf").isin([int(i) for i in optional_idx]), 0
                ).otherwise(1)
            ).alias("_cnt")
        else:
            cnt_agg = F.count(F.lit(1)).alias("_cnt")
        merged = (
            unioned.groupBy("doc_id")
            .agg(score_agg, cnt_agg)
            .filter(F.col("_cnt") >= required)
        )
        if merge == "noop":
            merged = merged.select("doc_id", F.lit(0.0).alias("score"))
        else:
            merged = merged.select("doc_id", "score")
        if negatives:
            excl = None
            for neg in negatives:
                e = self._eval(neg, 1.0).select("doc_id")
                excl = e if excl is None else excl.unionByName(e)
            merged = merged.join(excl.distinct(), "doc_id", "left_anti")
        return merged

    def _eval_positional(
        self,
        slots: list[list[tuple[str, int]]],
        offsets: list[int],
        boost: float,
    ) -> DataFrame:
        """Positional conjunction: match positions p where SOME candidate
        term of slot_i occurs at p + offsets[i] for every i. Phrase =
        offsets 0..m-1 (reference phrase_iterator.hpp leapfrog);
        same-position = all-zero offsets (same_position_filter.cpp);
        variadic slots carry >1 candidate (phrase_filter.cpp:75-121).
        The match count feeds the scorer with the summed per-slot c0,
        each slot's df being the SUM over its matched variants — the
        reference's visitor collects every matched term into the same
        stats slot (phrase_query.cpp composes per-part scorers over the
        shared phrase frequency)."""
        if not self.index.with_positions:
            raise ValueError("index was built without positions")
        weight = self.sem.phrase_weight(slots, boost)
        if weight is None:
            return self._empty()  # a slot with no live terms
        clean, c0_sum = weight
        all_terms = list(dict.fromkeys(t for s in clean for t in s))
        decoded = self.index.decoded_postings(
            terms=all_terms, with_positions=True
        )
        # fully declarative position leapfrog in ONE decode pass + ONE
        # shuffle: each decoded (term, doc) row fans out to the slot(s)
        # the term serves (a literal map — a term can appear in several
        # phrase positions), positions are pre-shifted by the slot's
        # offset, then one groupBy(doc_id) builds every slot's distinct
        # position set as a conditional aggregate and phrase freq =
        # |∩_i (P_i − offset_i)| via JVM array_intersect. The previous
        # shape ran the Python decode once PER SLOT and chained (m−1)
        # doc_id joins — m× the dominant JVM↔Python transfer cost and
        # m−1 extra shuffles (the round-2 Phrase bench regression).
        m = len(clean)
        slot_of: dict[str, list[int]] = {}
        for i, s in enumerate(clean):
            for t in s:
                slot_of.setdefault(t, []).append(i)
        slot_map = F.map_from_arrays(
            F.array(*[F.lit(t) for t in slot_of]),
            F.array(
                *[
                    F.array(*[F.lit(i) for i in idxs])
                    for idxs in slot_of.values()
                ]
            ),
        )
        off_arr = F.array(*[F.lit(int(o)) for o in offsets])
        shift = F.element_at(off_arr, F.col("_slot") + 1)
        rows = decoded.select(
            "doc_id",
            "dl",
            F.explode(F.element_at(slot_map, F.col("term"))).alias("_slot"),
            "positions",
        ).select(
            "doc_id",
            "dl",
            "_slot",
            # NB: a 2-arg lambda would make F.transform pass the element
            # INDEX as the second arg — reference the outer shift column
            F.transform(F.col("positions"), lambda x: x - shift).alias("_sp"),
        )
        grouped = rows.groupBy("doc_id").agg(
            *[
                F.array_distinct(
                    F.flatten(
                        F.collect_list(
                            F.when(F.col("_slot") == i, F.col("_sp"))
                        )
                    )
                ).alias(f"_p{i}")
                for i in range(m)
            ],
            F.min("dl").alias("dl"),
        )
        inter = F.col("_p0")
        for i in range(1, m):
            inter = F.array_intersect(inter, F.col(f"_p{i}"))
        freq_df = grouped.select(
            "doc_id", F.size(inter).alias("freq"), "dl", F.lit(c0_sum).alias("_c0")
        ).filter(F.col("freq") > 0)
        return self._positional_scores(freq_df, ["doc_id"])

    def _eval_granular(
        self, node: "ast.GranularRange", boost: float
    ) -> DataFrame:
        """Granular numeric range over the num_terms dictionary
        (reference by_granular_range, granular_range_filter.cpp): the
        query bounds map to signed sortable keys, exclusivity becomes
        a ±1 key step (for doubles that IS nextafter — the sortable
        transform is a monotone bijection), and the trie decomposition
        (index/numeric.py split_range) yields O(levels) contiguous
        BETWEENs over the (field, shift, prefix)-sorted table — each
        pruned by parquet min/max stats. Constant score = boost, like
        the reference's kNoBoost granular-term collection. Indexes
        built without numeric_fields fall back to the stored docs
        column (same semantics, unpruned scan)."""
        from iresearch_spark.index import numeric as _num

        idx = self.index
        meta = idx.numeric_meta or {}
        if idx.num_terms is None or node.column not in meta:
            if node.column in idx.docs.columns:
                return self._eval(
                    ast.NumericRange(
                        column=node.column,
                        min_val=node.min_val,
                        max_val=node.max_val,
                        include_min=node.include_min,
                        include_max=node.include_max,
                        boost=node.boost,
                    ),
                    boost,
                )
            raise ValueError(
                f"index has no numeric dictionary for {node.column!r} and "
                "no stored column to fall back to; build with "
                "numeric_fields=[...] (or extra_doc_cols)"
            )
        dtype = meta[node.column]
        lo = hi = None
        if node.min_val is not None:
            lo = _num.sortable_py(node.min_val, dtype)
            if not node.include_min:
                if lo == _num.LONG_MAX:
                    return self._empty()
                lo += 1
        if node.max_val is not None:
            hi = _num.sortable_py(node.max_val, dtype)
            if not node.include_max:
                if hi == _num.LONG_MIN:
                    return self._empty()
                hi -= 1
        if lo is not None and hi is not None and lo > hi:
            return self._empty()
        pred = _num.range_predicate(
            node.column, lo, hi, idx.precision_step
        )
        # the covering intervals are pairwise disjoint and every doc
        # has exactly one dictionary row per level, so each matching
        # doc appears exactly once — no distinct needed
        return idx.num_terms.filter(pred).select(
            "doc_id",
            F.lit(self.sem.const_score(node.boost * boost)).alias("score"),
        )

    def _eval_nested(self, node: ast.Nested, boost: float) -> DataFrame:
        """Parent/child match (reference ByNestedFilter,
        nested_filter.hpp:33-94): evaluate the child query, roll matches
        up to parents via the stored parent_col, keep parents whose
        matching-child count lies in [min_children, max_children]. The
        rollup is ONE groupBy shuffle bounded by matching child docs —
        at 100 TB that is the candidate set, not the corpus."""
        if node.parent_col not in self.index.docs.columns:
            raise ValueError(
                f"docs table has no column {node.parent_col!r}; build the "
                "index with extra_doc_cols=[...] to store it"
            )
        if node.min_children < 1:
            raise ValueError("min_children must be >= 1")
        # the reference applies the deleted-docs bitset in every
        # doc_iterator — deleted children must not count toward
        # min/max_children nor contribute to the merged score
        child = self._apply_delete_mask(self._eval(node.child, 1.0))
        pmap = self.index.docs.filter(
            F.col(node.parent_col).isNotNull()
        ).select("doc_id", F.col(node.parent_col).alias("_parent"))
        merged = (
            child.join(pmap, "doc_id")
            .groupBy("_parent")
            .agg(
                {"sum": F.sum, "max": F.max, "min": F.min}.get(
                    node.merge_type, F.sum
                )("score").alias("score"),
                F.count(F.lit(1)).alias("_nc"),
            )
        )
        cond = F.col("_nc") >= node.min_children
        if node.max_children is not None:
            cond = cond & (F.col("_nc") <= node.max_children)
        score = (
            F.lit(0.0)
            if node.merge_type == "noop"
            else F.lit(float(node.boost * boost)) * F.col("score")
        )
        out = merged.filter(cond).select(
            F.col("_parent").alias("doc_id"), score.alias("score")
        )
        # parents must be actual docs of this index
        return out.join(self.index.docs.select("doc_id"), "doc_id", "left_semi")

    def _eval_ngram_similarity(self, node: ast.NgramSimilarity, boost: float) -> DataFrame:
        """by_ngram_similarity (ngram_similarity_filter.hpp:33-49,
        ngram_similarity_query.cpp): candidate docs hold >= ceil(t*m)
        distinct query ngrams (min-match prefilter over the postings —
        cheap, no positions); the exact longest-common-subsequence of
        (query ngram sequence, doc ngram stream) then runs vectorized
        per candidate in a pandas UDF. similarity = LCS/m; match iff
        similarity >= threshold; score = boost * similarity."""
        if not self.index.with_positions:
            raise ValueError("index was built without positions")
        boost = boost * node.boost
        m = len(node.terms)
        if m == 0:
            return self._empty()
        q_codes, tcode, min_match = sem_.ngram_codes(node)
        dfs = self._term_dfs(list(tcode))
        present = [t for t in tcode if dfs[t] > 0]
        if not present:
            return self._empty()
        decoded = self.index.decoded_postings(terms=present, with_positions=True)
        # sound prefilter (semantics.ngram_codes): the candidate needs
        # min_match doc occurrences of query ngrams (occurrence count,
        # not distinct terms — the query sequence may repeat an ngram)
        cand = (
            decoded.groupBy("doc_id")
            .agg(
                F.sum(F.size("positions")).alias("_nocc"),
                F.collect_list(F.struct("term", "positions")).alias("_plists"),
            )
            .filter(F.col("_nocc") >= min_match)
        )
        threshold = node.threshold

        def lcs_ratio(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                n = len(pdf)
                if n == 0:
                    yield pd.DataFrame({"doc_id": [], "_sim": []})
                    continue
                # flatten every doc's (term, positions) lists into one
                # occurrence-level array triple (light list ops only)
                ridx_p, pos_p, code_p = [], [], []
                for ri, plists in enumerate(pdf["_plists"]):
                    for item in plists:
                        ps = np.asarray(item["positions"], dtype=np.int64)
                        ridx_p.append(np.full(ps.size, ri, np.int64))
                        pos_p.append(ps)
                        code_p.append(
                            np.full(ps.size, tcode[item["term"]], np.int32)
                        )
                ridx = np.concatenate(ridx_p)
                order = np.lexsort((np.concatenate(pos_p), ridx))
                codes = np.concatenate(code_p)[order]
                lens = np.bincount(ridx[order], minlength=n)
                starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
                sims = sem_.lcs_lengths(codes, starts, lens, q_codes) / m
                keep = sims >= threshold
                yield pd.DataFrame(
                    {"doc_id": pdf["doc_id"].to_numpy()[keep], "_sim": sims[keep]}
                )

        sim_df = cand.mapInPandas(lcs_ratio, "doc_id long, _sim double")
        return sim_df.select(
            "doc_id", (F.lit(boost) * F.col("_sim")).alias("score")
        )

    # --------------------------------------------------------------- WAND

    def _plain_terms(self, node: ast.Node, acc: list[str]) -> None:
        if isinstance(node, ast.Term):
            acc.append(node.term)
        elif isinstance(node, (ast.Terms, ast.NgramSimilarity)):
            acc.extend(node.terms)
        elif isinstance(node, (ast.Phrase, ast.SamePosition)):
            for p in node.terms:  # variadic slots expand at prepare time
                if isinstance(p, str):
                    acc.append(p)
                elif isinstance(p, ast.Terms):
                    acc.extend(p.terms)
        elif isinstance(node, (ast.And, ast.Or)):
            for c in node.children:
                self._plain_terms(c, acc)
        elif isinstance(node, (ast.Not, ast.Nested, ast.Should)):
            self._plain_terms(node.child, acc)

    def _execute(self, query: ast.Node, k: int | None, mode: str) -> DataFrame:
        query = planner.normalize(query)
        # prefetch stats for every plain term in ONE driver round-trip
        # (the reference's prepare pass seeks all terms up front,
        # term_filter.cpp:92-128); per-leaf lookups then hit _df_cache
        acc: list[str] = []
        self._plain_terms(query, acc)
        if acc:
            self._term_dfs(list(dict.fromkeys(acc)))
        if mode == "wand" and k is not None:
            terms = self.sem.wand_terms(query, self._leaf_expansion)
            if terms is not None:
                return self._apply_delete_mask(self._execute_wand(query, terms, k))
        if (
            k is not None
            and isinstance(query, ast.Term)
            and self.index.deleted is None
        ):
            # root single-term: per-partition top-k inside the fused
            # decode+score pass — k rows per partition reach the JVM
            leaf = self._prepare_leaf(query, 1.0)
            return self._eval_leaf_df(leaf, local_topk=k)
        return self._apply_delete_mask(self._eval(query, 1.0))

    def _apply_delete_mask(self, df: DataFrame) -> DataFrame:
        """Exclude deleted docs at read time (the reference applies the
        per-segment deleted-docs bitset in every doc_iterator)."""
        if self.index.deleted is None:
            return df
        return df.join(self.index.deleted.select("doc_id"), "doc_id", "left_anti")

    def _seed_theta(self, query, weights, seed: DataFrame, k: int) -> float:
        """theta = k-th best ACHIEVED (live) score over the seed blocks
        (term, block_id), 0.0 when they cannot fill k — a scalar, so
        collecting it is O(1) at any corpus size. The seed evaluation
        must see the delete mask: a deleted doc's achieved score would
        inflate theta above the true live k-th score and prune blocks
        holding live top-k docs (the reference applies the deleted-docs
        bitset inside every doc_iterator, so its WAND threshold only
        ever rises on live docs)."""
        seed_postings = self.index.postings_for_terms(list(weights)).join(
            F.broadcast(seed), ["term", "block_id"], "left_semi"
        )
        return float(
            self._apply_delete_mask(
                self._eval(query, 1.0, postings=seed_postings)
            )
            .orderBy(F.desc("score"))
            .limit(k)
            .agg(
                F.when(F.count("*") < k, F.lit(0.0))
                .otherwise(F.min("score"))
                .alias("_theta")
            )
            .collect()[0]["_theta"]
        )

    def _wand_driver_path(self, query, weights, ub, k: int):
        """Driver-side WAND over collected per-block meta (see
        _execute_wand; chosen when the estimated block count fits
        self.wand_driver_meta_cap): the shared semantics.BoundWalk picks
        the seed and survivor blocks. Three Spark jobs total: meta
        collect, theta seed scan, pruned final scan."""
        rows = ub.select(
            "term", "block_id", "_ub", "first_doc", "last_doc"
        ).collect()
        if not rows:
            return self._empty()
        cols: dict[str, tuple[list, ...]] = {}
        for r in rows:
            c = cols.setdefault(r["term"], ([], [], [], []))
            c[0].append(int(r["block_id"]))
            c[1].append(float(r["_ub"]))
            c[2].append(int(r["first_doc"]) >> sem_.ALIGN_BITS)
            c[3].append(int(r["last_doc"]) >> sem_.ALIGN_BITS)
        walk = sem_.BoundWalk(
            {t: tuple(np.asarray(a) for a in c[1:]) for t, c in cols.items()}
        )

        def block_ids(sel: dict) -> list[tuple[str, int]]:
            return [(t, cols[t][0][i]) for t, idx in sel.items() for i in idx]

        spark = self._spark
        seed_df = spark.createDataFrame(
            block_ids(walk.seed(k)), "term string, block_id long"
        )
        theta = self._seed_theta(query, weights, seed_df, k)
        if theta <= 0.0:
            return self._eval(query, 1.0)
        keep = block_ids(walk.keep(self.sem.theta_eff(theta)))
        if self.collect_wand_stats:
            self.last_wand_stats = {
                "blocks_total": walk.n_blocks,
                "blocks_kept": len(keep),
                "theta": theta,
            }
        if not keep:
            return self._empty()
        if len(keep) * 2 >= walk.n_blocks:
            # pruning didn't engage: the exhaustive single-job plan is
            # strictly better than scanning through a keep join
            return self._eval(query, 1.0)
        keep_df = spark.createDataFrame(keep, "term string, block_id long")
        survivors = self.index.postings_for_terms(list(weights)).join(
            F.broadcast(keep_df), ["term", "block_id"], "left_semi"
        )
        return self._eval(query, 1.0, postings=survivors)

    def _execute_wand(
        self, query: ast.Node, terms: dict[str, float], k: int
    ) -> DataFrame:
        """Block-max WAND: a few SMALL driver-synchronized steps, then
        one pruned scan.

        Shape (round-4): (1) one meta-only job materializes the
        per-block bound table (localCheckpoint — stays distributed;
        bound rows are per (term, block) and far too many to collect
        at 10^12 docs); (2) theta and the per-term rest mass collect
        driver-side — a SCALAR and n_query_terms rows, O(1) at any
        corpus size; (3) the survivor filter is a row-local predicate
        over each block's own (block_max_freq, block_min_dl) columns,
        so the pruned scan needs NO join against the posting blobs.
        Round 3's all-in-one-plan shape re-evaluated the bound subplan
        per reference and semi-joined the keep list against the blob
        rows (a full blob shuffle) — measured 3-10x slower than
        exhaustive at 100k docs; this shape prices WAND at the pruned
        scan plus two small jobs.

        Soundness: a doc appears in exactly one block per term (blocks
        partition doc-id ranges), so pass-1 scores over complete seed
        blocks are achieved (lower-bound) scores; theta = k-th best
        achieved score; a block is pruned only if its own upper bound
        plus every other term's global max upper bound cannot reach
        theta. Differential-tested vs exhaustive (wand_test.cpp:234-240
        recipe)."""
        uniq = list(terms)  # term -> boost multiplier (leaf boosts folded)
        dfs = self._term_dfs(uniq)
        if (
            self.wand_min_postings
            and sum(dfs.values()) <= self.wand_min_postings
        ):
            # adaptive: the candidate set is small enough that a full
            # scan beats pruning overhead (AQE-style runtime choice)
            return self._eval(query, 1.0)
        weights = self.sem.wand_weights(query, terms, dfs)
        meta = self.index.postings_for_terms(list(weights)).select(
            "term", "block_id", "n_docs", "first_doc", "last_doc",
            "block_max_freq", "block_min_dl", "block_impacts",
        )
        w = F.broadcast(self._weights_df(weights))
        ub = meta.join(w, "term").withColumn(
            "_ub", F.col("w") * self._block_g_ub()
        )
        # adaptive meta placement (round 5): the whole WAND bound walk
        # needs only the per-block META rows (term, block_id, bound,
        # doc range) — ceil(df/128)-ish rows per term. When that is
        # small enough to collect (the common case far beyond sandbox
        # scale: 100k blocks covers df ~ 1.3e7 per term), do the seed
        # ranking, rest-mass and keep computation IN THE DRIVER — the
        # reference walks exactly this metadata in memory
        # (formats_10.cpp wanderator skip data). Spark jobs drop from
        # ~8 to 3 (collect meta, theta, pruned scan), which is the
        # difference between WAND losing and winning against a 1-job
        # exhaustive scan. Above the cap, the distributed plan below
        # runs instead — same math, meta never leaves the executors.
        n_blocks_est = sum((d + 127) // 128 for d in dfs.values())
        if n_blocks_est <= self.wand_driver_meta_cap:
            out = self._wand_driver_path(query, weights, ub, k)
            if out is not None:
                return out
        # materialize the per-block bound table ONCE (meta columns only
        # — no posting blobs): the plan below references it from the
        # seed selection, the per-term max aggregate AND the keep
        # filter, and without truncation each reference re-runs the
        # meta scan+join (measured 3-10x slower than exhaustive at
        # 100k docs). localCheckpoint keeps it distributed — bound
        # rows are per (term, block), which at 10^12 docs is far too
        # big to collect but trivial to hold across executors.
        ub = ub.localCheckpoint(eager=True)
        # seed (round 5): theta must reflect multi-term STACKED scores,
        # or it never beats any rest mass on a query whose terms
        # co-occur. Rank coarse doc-id ranges by the SUM over terms of
        # their best in-range block bound (the same alignment table the
        # keep filter uses below) and seed every query-term block
        # overlapping the best few ranges — the aligned analogue of
        # WAND's document-at-a-time pivot; per-term global best blocks
        # are added as a safety for disjoint-term queries.
        G, SPAN_CAP = sem_.ALIGN_BITS, sem_.SPAN_CAP
        rng = ub.select(
            "term", "block_id", "_ub",
            F.shiftright("first_doc", G).alias("_s0"),
            F.shiftright("last_doc", G).alias("_s1"),
        )
        narrow = rng.filter(F.col("_s1") - F.col("_s0") < SPAN_CAP)
        wide = rng.filter(F.col("_s1") - F.col("_s0") >= SPAN_CAP)
        mx_rs = (
            narrow.withColumn("_s", F.explode(F.sequence("_s0", "_s1")))
            .groupBy("term", "_s")
            .agg(F.max("_ub").alias("_mx"))
        ).localCheckpoint(eager=True)
        n_seed_ranges = max(1, (k + 63) // 64)
        top_ranges = [
            r["_s"]
            for r in (
                mx_rs.groupBy("_s")
                .agg(F.sum("_mx").alias("_sum"))
                .orderBy(F.desc("_sum"))
                .limit(n_seed_ranges)
                .collect()
            )
        ]
        in_top = None
        for s in top_ranges:
            c = (F.col("_s0") <= F.lit(s)) & (F.col("_s1") >= F.lit(s))
            in_top = c if in_top is None else (in_top | c)
        seed_parts = [
            ub.orderBy(F.desc("_ub"))
            .limit(max(2, (4 * k) // 128 + 1))
            .select("term", "block_id")
        ]
        if in_top is not None:
            seed_parts.append(narrow.filter(in_top).select("term", "block_id"))
        seed = seed_parts[0]
        for p in seed_parts[1:]:
            seed = seed.unionByName(p)
        seed = seed.distinct()
        theta = self._seed_theta(query, weights, seed, k)
        if theta <= 0.0:
            # seed couldn't fill k: no bound can prune anything
            return self._eval(query, 1.0)
        # per-term rest mass (sum of the OTHER terms' global max block
        # bounds) — n_query_terms rows, collected driver-side and folded
        # into the scan predicate as a literal map. The survivor filter
        # is then ROW-LOCAL on the block's own (max_freq, min_dl)
        # columns: no join against the posting blobs (the previous
        # keep-list semi-join shuffled every blob through a sort-merge
        # join — measured 3-10x slower than exhaustive at 100k docs).
        # ONE collect: per-term global max bound + max bound over the
        # term's WIDE blocks (blocks whose 128 postings stretch over
        # many alignment ranges — see below)
        _wide_pred = (
            F.shiftright("last_doc", G) - F.shiftright("first_doc", G)
            >= SPAN_CAP
        )
        agg_rows = (
            ub.groupBy("term")
            .agg(
                F.max("_ub").alias("_mx"),
                F.max(F.when(_wide_pred, F.col("_ub"))).alias("_wmx"),
            )
            .collect()
        )
        mx = {r["term"]: r["_mx"] for r in agg_rows}
        wide_mx = {
            r["term"]: float(r["_wmx"])
            for r in agg_rows
            if r["_wmx"] is not None
        }
        total_ub = sum(mx.values())
        theta_eff = self.sem.theta_eff(theta)
        rest_map = F.map_from_arrays(
            F.array(*[F.lit(t) for t in mx]),
            F.array(*[F.lit(float(total_ub - v)) for v in mx.values()]),
        )
        c0_map = F.map_from_arrays(
            F.array(*[F.lit(t) for t in weights]),
            F.array(*[F.lit(float(w)) for w in weights.values()]),
        )
        # ---- per-range rest mass (round 5): the global rest (sum of
        # the OTHER terms' corpus-wide max bounds) almost never prunes
        # a multi-term disjunction — theta rarely beats it. The real
        # block-max-WAND lever is ALIGNMENT: what the other terms can
        # score near THIS block's doc ids. Blocks carry
        # (first_doc, last_doc); coarse 2^G-doc ranges give each term
        # a per-range max bound, rest(t, s) = sum over other terms of
        # their range-s bound (absent term -> 0). A block whose
        # 128 postings stretch over many ranges (rare terms) falls
        # back to its global rest. All of this runs on the META table
        # (no posting blobs); the keep list then prunes the blob scan
        # through a BROADCAST semi-join — small by construction when
        # pruning engages, and an adaptive row-count guard falls back
        # to the row-local global-rest filter when it does not (also
        # the 10^12-doc safety: a keep list near the full block count
        # must not be broadcast).
        wide_of = {t: wide_mx.get(t, 0.0) for t in weights}
        base = sum(wide_of.values())
        wide_map = F.map_from_arrays(
            F.array(*[F.lit(t) for t in wide_of]),
            F.array(*[F.lit(v) for v in wide_of.values()]),
        )
        # per (term, range) max bound: mx_rs (checkpointed above, also
        # the seed-range ranking input)
        # sum over terms of each range's effective bound
        # eff(t, s) = max(narrow mx, wide global) ; absent narrow rows
        # contribute wide_of[t], so sum_s = base + sum(excess)
        excess = F.greatest(
            F.col("_mx") - F.element_at(wide_map, F.col("term")), F.lit(0.0)
        )
        sums = mx_rs.groupBy("_s").agg(F.sum(excess).alias("_exc"))
        rest_rs = mx_rs.join(sums, "_s").select(
            "term",
            "_s",
            (
                F.lit(base)
                + F.col("_exc")
                - F.greatest(
                    F.col("_mx"), F.element_at(wide_map, F.col("term"))
                )
            ).alias("_rest"),
        )
        # keep decision per narrow block: survives if ANY overlapped
        # range lets it reach theta (rest of a range with no rest row =
        # base - wide_of[term], from the other terms' wide blocks only)
        nb = narrow.withColumn("_s", F.explode(F.sequence("_s0", "_s1")))
        nb = nb.join(rest_rs, ["term", "_s"], "left").withColumn(
            "_rest",
            F.coalesce(
                F.col("_rest"),
                F.lit(base) - F.element_at(wide_map, F.col("term")),
            ),
        )
        keep_narrow = (
            nb.filter(F.col("_ub") + F.col("_rest") >= F.lit(theta_eff))
            .select("term", "block_id")
            .distinct()
        )
        # wide blocks: global rest (the pre-round-5 bound)
        keep_wide = wide.filter(
            F.col("_ub") + F.element_at(rest_map, F.col("term"))
            >= F.lit(theta_eff)
        ).select("term", "block_id")
        keep = keep_narrow.unionByName(keep_wide).localCheckpoint(eager=True)
        n_keep = keep.count()
        # ub is checkpointed — counting it is a trivial job (cannot be
        # estimated from dfs: segment boundaries add partial blocks)
        n_blocks = ub.count()
        if self.collect_wand_stats:
            self.last_wand_stats = {
                "blocks_total": int(n_blocks),
                "blocks_kept": int(n_keep),
                "theta": theta,
            }
        if n_keep * 2 < n_blocks and n_keep <= 200_000:
            # pruning engaged: broadcast the keep ids against the blob
            # scan (hash semi-join, no blob shuffle)
            survivors = self.index.postings_for_terms(list(weights)).join(
                F.broadcast(keep), ["term", "block_id"], "left_semi"
            )
        else:
            # pruning does not pay (or keep list too big to broadcast):
            # row-local global-rest filter, zero join against blobs
            bound = F.element_at(c0_map, F.col("term")) * self._block_g_ub(
            ) + F.element_at(rest_map, F.col("term"))
            survivors = self.index.postings_for_terms(list(weights)).filter(
                bound >= F.lit(theta_eff)
            )
        return self._eval(query, 1.0, postings=survivors)


def _order_cols(order) -> list:
    """A semantics expansion order as orderBy columns."""
    return [getattr(F, d)(c) for c, d in order]


class ColumnOps:
    """semantics.NumpyOps over Spark Columns, so the score chains run as
    JVM expressions: a float op float Column is a Java float op, and
    `/` (which Spark takes in doubles) is rounded back by f32."""

    f64 = staticmethod(lambda c: c.cast("double"))
    f32 = staticmethod(lambda c: c.cast("float"))
    lit32 = staticmethod(lambda x: F.lit(float(np.float32(x))).cast("float"))
    sqrt = staticmethod(F.sqrt)


def _fold_scores(f32: bool):
    """The Spark form of semantics.fold_sum: a doc group's scores
    folded left in `_leaf` order (array_sort on the (_leaf, score)
    structs pins the order under the shuffle), accumulating in float32
    in parity mode."""
    t = "float" if f32 else "double"
    return (
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("_leaf", "score"))),
            F.lit(0.0).cast(t),
            lambda acc, x: (acc + x["score"].cast(t)).cast(t),
        )
        .cast("double")
        .alias("score")
    )


def _make_fused_scorer(
    weights: dict, params: tuple, topk: int | None, leaf_of: dict | None = None
):
    """decode + score (+ optional per-partition top-k) in one pass.
    With `leaf_of` (term -> boolean-child index) the output gains a
    _leaf column so one scan serves every plain-Term child of a
    boolean node."""

    kernel = sem_.make_score_kernel(params)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from iresearch_spark.index.model import decode_batch_arrays

        acc_doc: list[np.ndarray] = []
        acc_score: list[np.ndarray] = []
        for batch in batches:
            d = decode_batch_arrays(batch, False)
            if d is None:
                continue
            dict_terms = d["term_dict"].to_pylist()
            c0 = np.fromiter(
                (weights.get(t, 0.0) for t in dict_terms),
                dtype=np.float64,
                count=len(dict_terms),
            )
            score = kernel(c0[d["row_codes"]], d["freqs"], d["dls"])
            if leaf_of is not None:
                leaf_codes = np.fromiter(
                    (leaf_of.get(t, -1) for t in dict_terms),
                    dtype=np.int32,
                    count=len(dict_terms),
                )
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(d["doc_ids"]),
                        pa.array(score),
                        pa.array(leaf_codes[d["row_codes"]]),
                    ],
                    names=["doc_id", "score", "_leaf"],
                )
            elif topk is None:
                yield pa.RecordBatch.from_arrays(
                    [pa.array(d["doc_ids"]), pa.array(score)],
                    names=["doc_id", "score"],
                )
            else:
                acc_doc.append(d["doc_ids"])
                acc_score.append(score)
        if topk is not None and acc_doc:
            docs = np.concatenate(acc_doc)
            scores = np.concatenate(acc_score)
            if docs.size > topk:
                # ties broken by doc_id asc to keep the global
                # (score desc, doc_id asc) order exact under pruning
                order = sem_.topk_order(docs, scores, topk)
                docs, scores = docs[order], scores[order]
            yield pa.RecordBatch.from_arrays(
                [pa.array(docs), pa.array(scores)], names=["doc_id", "score"]
            )

    return run
