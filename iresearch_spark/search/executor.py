"""Query execution on the cluster: AST -> one shard scan.

This module holds only the Spark DRIVERS — term-dictionary scans and
the shard plan. What a query means (scores, expansion caps and order,
WAND eligibility and bounds, the boolean merge order, the top-k
tie-break) comes from the Spark-free search/semantics.py core, and
every tree is evaluated by the hot tier's HotState, so all tiers
answer alike.

Lifecycle of a query — the reference's per-segment pass (SURVEY §3.2):

  compile  = driver-side: planner rewrites + multiterm expansion
             against the term dictionary + the GLOBAL df of every term
             the query touches (one term_stats lookup, none on a
             preload_stats engine — the reference seeks the term
             dictionary and caches cookies, term_filter.cpp:92-128) +
             the scorer parameters, into one picklable hot.ShardPlan.
             The same walk collects the side rows, what the tree reads
             besides posting blocks: the delete mask, the docs rows
             and columns its docs-table leaves test, and the subtrees
             answered before the scan (a GranularRange's pruned
             num_terms BETWEEN scan, a Cached child's materialized
             rows, a Field subtree's scan on that field's engine, a
             Nested child's (child, parent, score) rows). A tree the
             shards cannot answer fails here, on the driver.
  execute  = ONE mapInArrow over the query's posting blocks plus its
             side rows as null-term rows. They split into
             ceil(rows / POSTINGS_PER_SHARD) equal ranges of the
             index's doc-id span (one shard is a coalesce(1) scan with
             no shuffle; more shards than cores run in waves, so a task
             holds about POSTINGS_PER_SHARD rows when the doc ids spread
             evenly; a block straddling a shard boundary goes to every
             shard it overlaps and is clipped after decode, a side row
             to its doc's shard — a Nested child's to its parent's).
             Each shard answers the whole tree on the hot tier's
             HotState built from its Arrow table and the plan, and
             returns its exact top k (for mode="wand" by the
             range-aligned block-max WAND walk: the reference's
             per-segment wanderator + heap, formats_10.cpp:2426-2642).
  merge    = orderBy(score desc, doc_id asc) LIMIT k over the shards'
             top-k lists (tie-break parity: the reference's heap keeps
             the earliest doc on ties, utils/index-search.cpp:759) — a
             driver-side takeOrdered, so a one-shard query is ONE Spark
             job and a multi-shard one adds only its shard shuffle. A
             Nested child's scan runs inside its parent's job, adding
             a shuffle when either scan spans several shards; a Cached
             child is materialized once per engine.

Scale limits of the shard plan: the shard count counts a capped
multiterm expansion's scored head only, not the unscored tail its
pattern still matches, and a numeric-dictionary GranularRange as every
doc of the index (its match count is unknown until the scan).

search_many() answers every query of a batch in the same single pass
(each shard evaluates the whole batch).
"""

from __future__ import annotations

import dataclasses
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F

from iresearch_spark.index.model import InvertedIndex, _doc_span
from iresearch_spark.search import ast, planner
from iresearch_spark.search import hot as _hot
from iresearch_spark.search import semantics as sem_
from iresearch_spark.search.semantics import Semantics

SHARD_SCHEMA = "query string, doc_id long, score double"
# a Nested child scan's rows: each matching child with its parent
CHILD_SCHEMA = SHARD_SCHEMA + ", parent long"

# Query postings per doc-range shard. It trades latency and per-task
# memory against CPU: a second shard never removes kernel CPU, it adds a
# Python-task floor (0.04-0.05 CPU-s per task since Python workers stop
# re-reading unchanged zips; BENCH/BASELINE.md "Round 8"), a shuffle of
# the blocks and a second decode of the straddling ones. Most of a
# small query's JVM CPU is not its task: with C2 on, HotSpot's compiler
# threads took 0.56 of a one-shard query's 0.79 JVM CPU-s over
# perfbench's 6,000-page index and the executor task 0.06; get_spark's
# C1-only driver JVM cuts the compiler share to 0.07 (BENCH/BASELINE.md
# "Round 10"). The crossover below was measured before both changes and
# not since. Measured on a 600k-doc synthetic index (4-vCPU VM,
# local[4], Term/Or queries of 0.15-3.0 M postings at 1, 2 and 4
# shards, alternated, median of 5; BENCH/BASELINE.md "Shard-count
# crossover"): 1 shard has the least CPU at every size (+0.5 CPU-s for
# 2 shards, +1.0 for 4); 2 and 4 shards are slower in wall time up to
# 0.6 M postings, break even at ~1 M, and are faster from 1.8 M on
# (0.89 -> 0.78 / 0.69 s at 1.8 M; 1.12 -> 0.88 / 0.69 s at 3.0 M). The
# kernel peaks at ~140 B per posting, so this also bounds a task to
# ~140 MB.
POSTINGS_PER_SHARD = 1_000_000


class SearchEngine:
    def __init__(
        self,
        index: InvertedIndex,
        scorer: str | object = "bm25",
        scored_terms_limit: int = 1024,
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
        # opt-in WAND pruning observability (an accumulator the shards
        # add to): after a mode="wand" search has run, last_wand_stats
        # = {blocks_total, blocks_kept, theta} summed over shards
        self.collect_wand_stats = False
        self._wand_acc = None
        self._spark: SparkSession = index.postings.sparkSession
        self._df_cache: dict[str, int] = {}
        self._proxy_cache: dict = {}  # Cached-node materialized results
        # multiterm expansion results keyed by the (frozen, hashable)
        # leaf node — the reference's per-segment seek-cookie cache
        # (term_filter.cpp:92-128 caches prepared term states the same
        # way). Sound because the index view is immutable per engine;
        # repeated executions reuse ONE expansion job.
        self._expansion_cache: dict = {}
        self._deleted_count: int | None = None
        self._span: tuple[int, int] | None = None  # (min, max) doc id
        self._stats_preloaded = False
        self._vocab: sem_.Vocabulary | None = None
        if preload_stats:
            self.preload_stats()

    def close(self) -> None:
        """Release engine-held caches (Cached-node materializations)."""
        for df, _ in self._proxy_cache.values():
            try:
                df.unpersist()
            except Exception:
                pass
        self._proxy_cache.clear()

    def preload_stats(self) -> None:
        """Materialize the whole term_stats table into the driver-side
        df cache — the analogue of the reference holding its FST term
        dictionary in memory. Removes the per-query stats-lookup Spark
        job (one scheduling floor per query) for exact-term queries, and
        the expansion job of multiterm leaves (they expand against the
        in-memory dictionary, semantics.Vocabulary). Driver memory is
        vocabulary-sized, so this is OPT-IN: right for repeated-query
        serving where the vocab fits (10^7 terms ~ a few hundred MB);
        leave off for one-shot queries on huge vocabs."""
        dfs = {
            r["term"]: r["df"]
            for r in self.index.term_stats.select("term", "df").collect()
        }
        self._df_cache.update(dfs)
        self._stats_preloaded = True
        self._vocab = sem_.Vocabulary.of(dfs)

    @property
    def last_wand_stats(self) -> dict | None:
        """{blocks_total, blocks_kept, theta} of the last mode="wand"
        search run with collect_wand_stats on: blocks summed over its
        shards, theta the largest shard threshold (0.0 when no shard
        could seed one). None before such a search has run."""
        acc = self._wand_acc
        if acc is None or not acc.value[0]:
            return None
        total, kept, theta = acc.value
        return {"blocks_total": total, "blocks_kept": kept, "theta": theta}

    # ------------------------------------------------------------------ API

    def search(
        self, query: ast.Node, k: int = 10, mode: str = "exhaustive"
    ) -> DataFrame:
        """Top-k (doc_id, score), score desc, doc_id asc."""
        df = self._shard_scan({"": planner.normalize(query)}, k, mode)[0]
        return df.select("doc_id", "score").orderBy(
            F.desc("score"), F.asc("doc_id")
        ).limit(k)

    def matches(self, query: ast.Node) -> DataFrame:
        """All matching docs with scores (unordered)."""
        df = self._shard_scan({"": planner.normalize(query)}, None)[0]
        return df.select("doc_id", "score")

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
            m = self.matches(query)
            docs = docs.join(m.select("doc_id"), "doc_id", "semi")
        out = docs.orderBy(F.asc("doc_id")).limit(k)
        return out.select(*columns) if columns else out

    def search_many(
        self,
        queries: dict[str, ast.Node],
        k: int = 10,
        mode: str = "exhaustive",
    ) -> DataFrame:
        """Batched top-k for MANY queries: (query, doc_id, score), rows
        ordered (query, score desc, doc_id asc). Results per query are
        identical to `search()`.

        Query THROUGHPUT (the reference benchmark's q/s metric,
        scripts/search-benchmark.sh) on Spark is bounded by the
        ~0.3s/job scheduling floor when queries run one at a time.
        Every query of the batch is answered in ONE shard scan over the
        union of their posting blocks and side rows, each shard
        evaluating the whole batch."""
        if not queries:
            return self._spark.createDataFrame([], SHARD_SCHEMA)
        norms = {name: planner.normalize(q) for name, q in queries.items()}
        df, n_shards, _ = self._shard_scan(norms, k, mode)
        if n_shards > 1:
            from pyspark.sql import Window

            w = Window.partitionBy("query").orderBy(
                F.desc("score"), F.asc("doc_id")
            )
            df = (
                df.withColumn("_rk", F.row_number().over(w))
                .filter(F.col("_rk") <= k)
                .drop("_rk")
            )
        return df.orderBy("query", F.desc("score"), F.asc("doc_id"))

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

    def _leaf_predicate(self, node: ast.Node):
        """The term-column predicate a Prefix/Wildcard/Range leaf
        matches by (None for Fuzzy: its expansion is its match set)."""
        col = F.col("term")
        if isinstance(node, ast.Prefix):
            return col.startswith(node.prefix)
        if isinstance(node, ast.Wildcard):
            return col.rlike(sem_.like_to_regex(node.pattern))
        if isinstance(node, ast.Range):
            return self._range_pred(node, col)
        return None

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
        reference's prepared-query seek-cookie cache — so repeated
        executions pay for ONE expansion job (none on a preload_stats
        engine: it expands against its in-memory dictionary)."""
        hit = self._expansion_cache.get(node)
        if hit is not None:
            return hit
        if self._vocab is not None:
            expanded, _matched, complete = self._vocab.expand(node, self.sem)
            out = (expanded, complete)
        elif isinstance(node, ast.Fuzzy):
            out = (self._fuzzy_candidates(node), True)
        else:
            pred = self._leaf_predicate(node)
            limit = self.sem.expansion_limit(node)
            if isinstance(node, ast.Prefix):
                hi = sem_.prefix_successor(node.prefix)
                out = self._expand(pred, limit, node.prefix, hi, False)
            elif isinstance(node, ast.Wildcard):
                wsrc, wkw = self._wildcard_expand_plan(node.pattern)
                out = self._expand(pred, limit, source=wsrc, **wkw)
            else:  # Range
                out = self._expand(
                    pred, limit, node.min_term, node.max_term, node.include_max
                )
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

    # ---------------------------------------------------- the shard plan

    def _shard_servable(self, node: ast.Node) -> bool:
        """Every tree runs on the shard plan but a Not or Should outside
        And / Or, which has no meaning on its own."""
        return not isinstance(node, (ast.Not, ast.Should))

    def _gather(
        self, node, plain: set, given: dict, preds: list, side: "_Side",
        boost: float = 1.0, slot: bool = False,
    ):
        """Walk a tree as HotState._eval will, `boost` being the boost
        the node inherits: its plain terms, the driver-side expansion of
        each multiterm leaf and, for a capped one, the pattern predicate
        whose unscored terms the leaf still matches (a phrase slot uses
        only the expansion); and into `side` what the shards read
        besides posting blocks. A tree the shards cannot answer fails
        here, on the driver. True when it reads positions."""
        if isinstance(node, str):
            plain.add(node)
        elif isinstance(node, ast.Term):
            plain.add(node.term)
        elif isinstance(node, ast.Terms):
            plain.update(node.terms)
        elif isinstance(node, sem_.EXPANSION_LEAVES):
            given[node] = self._leaf_expansion(node)
            if not slot and not given[node][1]:
                preds.append(self._leaf_predicate(node))
        elif isinstance(
            node, (ast.Phrase, ast.SamePosition, ast.NgramSimilarity)
        ):
            if not self.index.with_positions:
                raise ValueError("index was built without positions")
            for p in node.terms:  # an n-gram is a plain term
                self._gather(p, plain, given, preds, side, slot=True)
            return True
        elif isinstance(node, (ast.And, ast.Or)):
            positives, _, negatives, _ = sem_.bool_parts(node)
            b = boost * node.boost
            return any(
                [self._gather(c, plain, given, preds, side, b) for c in positives]
                + [self._gather(c, plain, given, preds, side) for c in negatives]
            )
        elif isinstance(node, (ast.AllDocs, ast.Exists, ast.NumericRange)):
            side.read_docs(self._doc_columns(node))
        elif isinstance(node, ast.GranularRange):
            self._gather_granular(node, boost, side)
        elif isinstance(node, ast.Cached):
            key = node.child
            if key not in self._proxy_cache:
                # materialize the child's result once; later executions
                # reuse the in-memory (doc_id, score) table (the
                # reference's proxy_filter bitset cache)
                rows = self._shard_scan({"": key}, None)[0]
                rows = rows.select("doc_id", "score").cache()
                self._proxy_cache[key] = (rows, rows.count())
            side.proxies[key] = self._proxy_cache[key]
        elif isinstance(node, ast.Field):
            # field-scoped subtree: that field's own stats (the
            # reference's per-field FieldCollector, bm25.cpp:45-80); its
            # rows compose here as every field shares the doc-id space
            eng = (getattr(self, "_field_engines", None) or {}).get(node.field)
            if eng is None:
                raise ValueError(
                    f"no indexed field {node.field!r} — query a "
                    "MultiFieldEngine over indexes built by "
                    "build_multi_field_index"
                )
            rows, _, est = eng._shard_scan(
                {"": node.child}, None, boosts={"": boost * node.boost}
            )
            side.proxies[(node, boost)] = (rows.select("doc_id", "score"), est)
        elif isinstance(node, ast.Nested):
            # parent/child match (reference ByNestedFilter,
            # nested_filter.hpp:33-94): the child's scan maps matches to
            # parents, whose shards roll them up
            if node.min_children < 1:
                raise ValueError("min_children must be >= 1")
            side.read_docs(())
            rows, _, est = self._shard_scan({"": node}, None, children=True)
            side.proxies[(node, "children")] = (rows, est)
        elif not self._shard_servable(node):
            raise ValueError(
                f"{type(node).__name__} is only valid inside And/Or"
            )
        elif not isinstance(node, ast.Empty):
            raise TypeError(f"unsupported query node: {node!r}")
        return False

    def _doc_columns(self, node) -> list[str]:
        """The stored docs columns a docs-table leaf (or a Nested
        node's parent column) tests — checked against the docs table's
        schema, so a missing one fails on the driver."""
        if isinstance(node, ast.AllDocs):
            return []
        have = self.index.docs.columns
        if isinstance(node, ast.Exists):
            cols = sem_.exists_columns(node, have)
        elif isinstance(node, ast.Nested):
            cols = [node.parent_col]
        else:
            cols = [node.column]
        if cols[0] not in have:
            raise ValueError(
                f"docs table has no column {cols[0]!r}; build the index "
                "with extra_doc_cols=[...] to store it"
            )
        return cols

    def _gather_granular(self, node: ast.GranularRange, boost, side) -> None:
        """Granular numeric range (reference by_granular_range,
        granular_range_filter.cpp). Over the num_terms dictionary its
        matches come from a scan before the shards: the query bounds map
        to signed sortable keys, exclusivity becomes a ±1 key step (for
        doubles that IS nextafter — the sortable transform is a monotone
        bijection), and the trie decomposition (index/numeric.py
        split_range) yields O(levels) contiguous BETWEENs over the
        (field, shift, prefix)-sorted table — each pruned by parquet
        min/max stats. Constant score = boost, like the reference's
        kNoBoost granular-term collection. Indexes built without
        numeric_fields fall back to the stored docs column (same
        semantics, unpruned), which the shards test themselves."""
        from iresearch_spark.index import numeric as _num

        idx = self.index
        meta = idx.numeric_meta or {}
        if idx.num_terms is None or node.column not in meta:
            if node.column not in idx.docs.columns:
                raise ValueError(
                    f"index has no numeric dictionary for {node.column!r} "
                    "and no stored column to fall back to; build with "
                    "numeric_fields=[...] (or extra_doc_cols)"
                )
            side.read_docs([node.column])
            return
        dtype = meta[node.column]
        lo = hi = None
        rows = None
        if node.min_val is not None:
            lo = _num.sortable_py(node.min_val, dtype) + (not node.include_min)
        if node.max_val is not None:
            hi = _num.sortable_py(node.max_val, dtype) - (not node.include_max)
        if (
            (lo is None or lo <= _num.LONG_MAX)
            and (hi is None or hi >= _num.LONG_MIN)
            and (lo is None or hi is None or lo <= hi)
        ):
            # the covering intervals are pairwise disjoint and every doc
            # has exactly one dictionary row per level, so each matching
            # doc appears exactly once
            score = self.sem.const_score(node.boost * boost)
            rows = idx.num_terms.filter(
                _num.range_predicate(node.column, lo, hi, idx.precision_step)
            ).select("doc_id", F.lit(score).alias("score"))
        side.proxies[(node, boost)] = (rows, idx.field_stats.n_docs)

    def _shard_scan(
        self,
        queries: dict,
        k: int | None,
        mode: str = "exhaustive",
        boosts: dict | None = None,
        children: bool = False,
    ) -> tuple[DataFrame, int, int]:
        """(query, doc_id, score) rows of every shard's answer to each
        normalized query (its top k, or every match when k is None), the
        shard count and the rows the scan reads (see the module
        docstring). `boosts` maps a query name to the boost it inherits
        (1.0 when absent). With `children` each query is a Nested node
        and the rows are its matching children's, plus `parent`."""
        plain: set = set()
        given: dict = {}
        preds: list = []
        side = _Side()
        positional = False
        for name, q in queries.items():
            if children:
                side.read_docs(self._doc_columns(q))
                q = q.child
            positional |= self._gather(
                q, plain, given, preds, side, (boosts or {}).get(name, 1.0)
            )
        dfs = self._term_dfs(sorted(plain))
        for expanded, _complete in given.values():
            dfs.update(expanded)
        if preds:
            # a capped expansion matches beyond its scored head: scan
            # by its pattern too
            pred = F.col("term").isin(sorted(dfs)) if dfs else F.lit(False)
            for p in preds:
                pred = pred | p
            blocks = self.index.postings.filter(pred)
        else:
            blocks = self.index.postings_for_terms(sorted(dfs))
        cols = list(_hot.BLOCK_COLS) + (["positions"] if positional else [])
        blocks = blocks.select(*cols)
        rows = sum(dfs.values())
        parts, doc_cols, proxies, side_rows = self._side_rows(side)
        for p in parts:
            blocks = blocks.unionByName(p, allowMissingColumns=True)
        rows += side_rows
        n = max(1, -(-rows // POSTINGS_PER_SHARD))
        blocks, base, width = self._shard_blocks(blocks, n)
        stats = None
        if self.collect_wand_stats and mode == "wand" and k is not None:
            stats = self._spark.sparkContext.accumulator(
                (0, 0, 0.0), _hot.WandStats()
            )
            self._wand_acc = stats
        plan = _hot.ShardPlan(
            sem=self.sem.portable(),
            queries=dict(queries),
            boosts=dict(boosts or {}),
            k=k,
            mode=mode,
            dfs=dfs,
            expansions=given,
            doc_cols=doc_cols,
            proxies=proxies,
            children=children,
            n_shards=n,
            base=base,
            width=width,
            stats=stats,
        )
        schema = CHILD_SCHEMA if children else SHARD_SCHEMA
        return blocks.mapInArrow(_hot.shard_kernel(plan), schema), n, rows

    def _side_rows(self, side: "_Side"):
        """(DataFrames, docs columns, {side key: HotState._proxy key},
        row estimate) of a scan's side rows (hot.ShardPlan). A row names
        its doc in doc_id and the doc whose shard it goes to in
        first_doc = last_doc: a Nested child row goes to its parent's."""

        def part(key: str, df: DataFrame, *cols, route: str = "doc_id"):
            at = F.col(route).cast("long")
            return df.select(
                F.lit(key).alias("_side"),
                at.alias("first_doc"),
                at.alias("last_doc"),
                F.col("doc_id").cast("long").alias("doc_id"),
                *cols,
            )

        parts, rows = [], 0
        if self.index.deleted is not None:
            parts.append(part("x", self.index.deleted))
            rows += self._n_deleted()
        doc_cols = tuple(sorted(side.cols or ()))
        if side.cols is not None:
            parts.append(part("d", self.index.docs, *(
                F.col(c).alias(f"_c{i}") for i, c in enumerate(doc_cols)
            )))
            rows += self.index.field_stats.n_docs
        proxies = {}
        for i, (pkey, (df, est)) in enumerate(side.proxies.items()):
            proxies[str(i)] = pkey
            if df is not None:
                nested = "parent" in df.columns
                parts.append(part(
                    str(i), df, "score", route="parent" if nested else "doc_id"
                ))
            rows += est
        return parts, doc_cols, proxies, rows

    def _shard_blocks(
        self, blocks: DataFrame, n: int
    ) -> tuple[DataFrame, int, int]:
        """(blocks, base, width): one shard is a coalesce(1) scan; n
        shards split the index's doc-id span [base, base + n * width)
        into equal ranges and hand each its own partition, a `_shard`
        column naming it — a block straddling a boundary goes to every
        shard it overlaps."""
        if n == 1:
            return blocks.coalesce(1), 0, 0
        base, last = self._doc_span()
        width = max(1, -(-(last - base + 1) // n))

        def shard_of(c: str):
            s = F.expr(f"({c} - {base}) div {width}")
            return F.least(F.greatest(s, F.lit(0)), F.lit(n - 1)).cast("int")

        blocks = blocks.select(
            "*",
            F.explode(
                F.sequence(shard_of("first_doc"), shard_of("last_doc"))
            ).alias("_shard"),
        ).repartitionById(n, "_shard")
        return blocks, base, width

    def _doc_span(self) -> tuple[int, int]:
        """The index's (min, max) doc id — doc ids may be sparse or
        offset (build_index takes them from id_col) — known to a fresh
        build, else read once per engine (the index view is
        immutable)."""
        if self._span is None:
            self._span = self.index.doc_span or _doc_span(self.index.docs)
        return self._span

    def _n_deleted(self) -> int:
        """The delete mask's size, counted once per engine (the index
        view is immutable)."""
        if self._deleted_count is None:
            self._deleted_count = self.index.deleted.count()
        return self._deleted_count

    def _apply_delete_mask(self, df: DataFrame) -> DataFrame:
        """Exclude deleted docs at read time (the reference applies the
        per-segment deleted-docs bitset in every doc_iterator)."""
        if self.index.deleted is None:
            return df
        return df.join(self.index.deleted.select("doc_id"), "doc_id", "left_anti")


def _order_cols(order) -> list:
    """A semantics expansion order as orderBy columns."""
    return [getattr(F, d)(c) for c, d in order]


@dataclasses.dataclass
class _Side:
    """What a shard scan reads besides posting blocks: the docs columns
    its tree tests (None: no docs rows; empty: their doc ids only) and
    the subtrees answered before it, {HotState._proxy key: (rows or
    None, row estimate)}."""

    cols: set | None = None
    proxies: dict = dataclasses.field(default_factory=dict)

    def read_docs(self, cols) -> None:
        self.cols = (self.cols or set()) | set(cols)
