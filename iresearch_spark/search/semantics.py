"""One Spark-free query-semantics core for every serving tier.

The cluster `SearchEngine` (DataFrame plans), the driver-resident
`HotEngine` and its Spark-free `from_dir` replica are only DRIVERS:
each finds postings and runs kernels its own way, but every rule that
decides what a query means lives here, once — scoring (norm-mode
scorer adjustment, idf/c0, constant scores, the score kernel in both
dtypes, the float64 WAND bound and its impact-block maximum, the
float32 theta slack), expansion (prefix successor, LIKE helpers, the
capped (df desc, term asc) and fuzzy ranks, the edit-distance
kernels), WAND (eligibility over a tier's expansion callback and the
range-aligned `BoundWalk`) and boolean ranking (the `Should` unwrap,
the leaf-order sum fold, the (score desc, doc_id asc) top-k).
`Semantics` binds the stats-dependent rules to one field's statistics.
"""

from __future__ import annotations

import copy
import dataclasses
import functools
import heapq
import math
import re
from operator import itemgetter

import numpy as np

from iresearch_spark.search import ast
from iresearch_spark.search.scorers import BM25, f32_stats, get_scorer

NO_CLUSTER = (
    "embedded index has no cluster path: this query shape is not "
    "hot-servable and there is no SparkSession to fall back to — load "
    "the index with InvertedIndex.load(spark, path) for cluster execution"
)

EXPANSION_LEAVES = (ast.Prefix, ast.Wildcard, ast.Range, ast.Fuzzy)

# ------------------------------------------------------------- scoring


class Semantics:
    """Scoring and expansion rules bound to one field's statistics.

    `max_dl` is a zero-argument callable the tier supplies to compute the
    field's max doc length when the manifest predates it (only float32
    Norm2 BM25 reads it: the reference's kNorm2Tiny path)."""

    def __init__(
        self,
        field_stats,
        norm_mode: str = "norm2",
        scorer: str | object = "bm25",
        score_dtype: str = "float64",
        scored_terms_limit: int = 1024,
        max_dl=None,
    ):
        scorer = get_scorer(scorer) if isinstance(scorer, str) else scorer
        # the index's norm variant drives the scoring formula (the
        # reference picks the scorer path from which norm feature the
        # segment carries, bm25.cpp:445-489): a legacy index stores
        # norms, so TFIDF scores with them
        if norm_mode == "legacy" and hasattr(scorer, "with_norms"):
            scorer = dataclasses.replace(scorer, with_norms=True)
        # "float64" (default — matches the engine's DuckDB replay
        # oracle) or "float32" (reference parity: score_t = float,
        # core/search/scorer.hpp — every per-posting score and every
        # boolean sum-merge accumulates in float32 with a fixed child
        # order; golden-tested bit-equal to ref_bm25_f32)
        if score_dtype not in ("float64", "float32"):
            raise ValueError(
                f"score_dtype must be float64/float32, got {score_dtype!r}"
            )
        self.field_stats = field_stats
        self.norm_mode = norm_mode
        self.scorer = scorer
        self.score_dtype = score_dtype
        self.f32 = score_dtype == "float32"
        self.scored_terms_limit = scored_terms_limit
        self._max_dl_fn = max_dl
        self._kernel = None

    def max_dl(self) -> int:
        """Max doc length — drives the reference's Norm2 one-byte
        encoding choice and with it the kNorm2Tiny scorer path
        (norm.hpp Norm2Header, bm25.cpp:464-476)."""
        fs = self.field_stats
        if fs.max_dl is None:
            fs.max_dl = int(self._max_dl_fn())
        return fs.max_dl

    def c0(self, df_: int, boost: float) -> float:
        """Per-term score constant: boost*(k+1)*idf for BM25, boost*idf
        for TFIDF — both scorers have the shape score = c0 * g(tf, dl)."""
        if df_ <= 0:
            return 0.0
        n_docs = self.field_stats.n_docs
        if self.f32:
            # reference rounding: double log1p -> float32 idf
            # (bm25.cpp:380-384), float32 products (BM1Context :201)
            f32 = np.float32
            if isinstance(self.scorer, BM25):
                idf = f32(math.log1p((n_docs - df_ + 0.5) / (df_ + 0.5)))
                return float(
                    f32(f32(f32(boost) * f32(f32(self.scorer.k) + f32(1.0))) * idf)
                )
            idf = f32(math.log1p((n_docs + 1.0) / (df_ + 1.0)))
            return float(f32(f32(boost) * idf))
        idf = self.scorer.idf(df_, n_docs)
        if isinstance(self.scorer, BM25):
            return boost * (self.scorer.k + 1.0) * idf
        return boost * idf

    def const_score(self, x: float) -> float:
        """Constant scores (AllDocs/Exists/NumericRange boosts) round
        through float32 in parity mode (score_t = float)."""
        return float(np.float32(x)) if self.f32 else float(x)

    def scorer_params(self) -> tuple:
        """The score chain's parameters — a plain tuple, so the
        cluster ships it to its Arrow workers."""
        fs = self.field_stats
        tiny = self.f32 and self.norm_mode == "norm2" and self.max_dl() <= 255
        return self._g_params() + (
            self.score_dtype, fs.n_docs, fs.total_term_freq, tiny
        )

    def _g_params(self) -> tuple:
        if isinstance(self.scorer, BM25):
            return ("bm25", self.scorer.k, self.scorer.b,
                    self.field_stats.avg_dl, False, self.norm_mode)
        return ("tfidf", 0.0, 0.0, 0.0,
                bool(getattr(self.scorer, "with_norms", False)),
                self.norm_mode)

    def portable(self) -> "Semantics":
        """A copy that pickles to the cluster's Arrow workers: the score
        parameters resolved now, the tier's max_dl callback left
        behind."""
        self.scorer_params()  # resolves max_dl when the chain reads it
        out = copy.copy(self)
        out._max_dl_fn = None
        out._kernel = None
        return out

    @property
    def kernel(self):
        """(c0, freqs, dls) -> float64 scores over numpy arrays (see
        score_expr)."""
        if self._kernel is None:
            self._kernel = functools.partial(score_expr, self.scorer_params())
        return self._kernel

    def g(self, freqs, dls):
        """g(tf, dl) in float64 (see g_expr) — the WAND bound (float32
        scores can exceed it by an ulp; theta_eff absorbs that)."""
        return g_expr(self._g_params(), freqs, dls)

    def block_g_ub(self, tf, dl, offsets, valid, max_freq, min_dl):
        """Per-block upper bound on g(tf, dl) — the max over the block's
        impact pairs (Lucene-style block-max impacts: one (max tf, min
        dl) pair per power-of-two dl class) when it has any, else the
        loose g(block_max_freq, block_min_dl). `tf`/`dl` are the flat
        impact arrays of consecutive blocks (None on a pre-impacts
        index), `offsets` their B+1 list offsets and `valid` the
        per-block non-null mask. The impact bound matters when a block
        mixes short docs with high-tf long docs: pairing the global max
        tf with the global min dl then wildly overestimates what any
        single posting can score."""
        out = self.g(max_freq, min_dl)
        if tf is None or out.size == 0:
            return out
        n = np.diff(offsets)
        has = np.asarray(valid, bool) & (n > 0)
        if not has.any():
            return out
        blk = np.repeat(np.arange(n.size), n)
        sel = has[blk]
        base = offsets[0]
        g = self.g(
            tf[base:offsets[-1]][sel], dl[base:offsets[-1]][sel]
        )
        b = blk[sel]
        starts = np.flatnonzero(np.concatenate(([True], b[1:] != b[:-1])))
        out[b[starts]] = np.maximum.reduceat(g, starts)
        return out

    def theta_eff(self, theta: float) -> float:
        """float32 parity: achieved scores round through float32 and can
        exceed the float64 bounds by ~1 ulp — relax theta by a 1e-5
        relative margin (scores are non-negative)."""
        return theta * (1.0 - 1e-5) if self.f32 else theta

    # ------------------------------------------------------ expansion

    def expansion_limit(self, node) -> int:
        """Scored-term cap of a Prefix/Wildcard/Range leaf."""
        return min(node.scored_terms_limit, self.scored_terms_limit)

    def terms_weights(self, node, dfs: dict, boost: float) -> dict:
        """term -> c0 of a Terms leaf whose effective boost is `boost`:
        the top scored_terms_limit terms by (df desc, term asc) score
        with their per-term boosts (terms_filter.hpp search-term
        pairs), the rest match at weight 0.0."""
        terms = list(dict.fromkeys(node.terms))
        w = {t: 0.0 for t in terms}
        for t, d in rank(
            [(t, dfs[t]) for t in terms], TERM_ORDER, self.scored_terms_limit
        ):
            w[t] = self.c0(d, boost * node.term_boost(t))
        return w

    def phrase_weight(self, slots, boost: float):
        """(terms per slot, summed c0) of a positional query from its
        per-slot [(term, df)] candidates, or None when some slot has no
        live term. Each slot's df is the SUM over its matched variants
        — the reference's visitor collects every matched term into the
        same stats slot (phrase_query.cpp composes per-part scorers
        over the shared phrase frequency)."""
        clean: list[list[str]] = []
        c0_sum = 0.0
        for s in slots:
            s2 = [(t, d) for t, d in dict(s).items() if d > 0]
            if not s2:
                return None
            c0_sum += self.c0(sum(d for _, d in s2), 1.0)
            clean.append([t for t, _ in s2])
        return clean, c0_sum * boost

    # ----------------------------------------------------------- WAND

    def wand_leaf_boosts(self, leaf, expand):
        """(term, boost-multiplier) pairs of a WAND-eligible scored
        leaf: a (possibly boosted) Term, a sum-merge Terms set with its
        per-term boosts (terms_filter.hpp {term, boost} pairs), or a
        COMPLETELY-expanded multiterm leaf (the reference serves every
        scored multiterm through the same wanderator,
        multiterm_query.cpp:36-100). `expand(node) -> (expanded,
        complete)` is the calling tier's expansion. An expansion that
        hit its cap is NOT eligible: the leaf then matches unscored
        terms beyond the sample, and restricting the pruned scan to the
        sampled terms would drop those matches from group
        (And/min_match) membership."""
        if isinstance(leaf, ast.Term):
            return [(leaf.term, leaf.boost)]
        if (
            isinstance(leaf, ast.Terms)
            and leaf.min_match <= 1
            and leaf.merge_type == "sum"
        ):
            return [
                (t, leaf.boost * leaf.term_boost(t))
                for t in dict.fromkeys(leaf.terms)
            ]
        if isinstance(leaf, EXPANSION_LEAVES):
            expanded, complete = expand(leaf)
            if complete and expanded:
                return [(t, leaf.boost) for t, _ in expanded]
        return None

    def wand_terms(self, node, expand) -> dict[str, float] | None:
        """term -> boost multiplier (root boost excluded) for query
        shapes eligible for block-max pruning: an eligible leaf, or a
        sum-merge And/Or of them (child boosts fold into the per-term
        upper bounds). Pruning soundness for leaves holding 0-weight
        terms (beyond scored_terms_limit) follows from the bound
        itself: a doc matching only through a pruned 0-weight block
        scores <= rest < theta, so it cannot enter the top-k."""
        pairs = self.wand_leaf_boosts(node, expand)
        if pairs is None and (
            isinstance(node, (ast.And, ast.Or))
            and node.merge_type == "sum"  # block-max bounds assume sum
        ):
            pairs = []
            for c in node.children:
                p = self.wand_leaf_boosts(c, expand)
                if p is None:
                    return None
                pairs.extend(p)
        if pairs is None:
            return None
        terms = [t for t, _ in pairs]
        # duplicated terms would collapse in the per-term weight map
        # (an And of twins would then demand 2 distinct matches of 1
        # term -> empty); exhaustive eval handles them correctly
        if len(set(terms)) != len(terms):
            return None
        return dict(pairs)

    def wand_weights(self, query, terms: dict, dfs) -> dict[str, float]:
        """term -> c0 of a WAND query's present terms: the multipliers
        from wand_terms times the root boolean's boost (a leaf root's
        boost is already in its multipliers)."""
        boost = query.boost if isinstance(query, (ast.And, ast.Or)) else 1.0
        return {
            t: self.c0(dfs[t], boost * m)
            for t, m in terms.items()
            if dfs.get(t, 0) > 0
        }


def g_expr(params: tuple, freq, dl):
    """The per-posting factor g(tf, dl) with c0 factored out, in float64
    — the float64 score is c0 * g, and g bounds WAND blocks in both
    dtypes. `params` is Semantics.scorer_params() (its first six
    entries suffice)."""
    kind, k, b, avg_dl, with_norms, norm_mode = params[:6]
    freq, dl = np.asarray(freq, np.float64), np.asarray(dl, np.float64)
    if kind == "bm25":
        if norm_mode == "legacy":
            # old-style Norm (bm25.hpp:29-46): tf = sqrt(freq),
            # |doc| = sqrt(dl) (the stored 1/sqrt(dl) inverted)
            freq, dl = np.sqrt(freq), np.sqrt(dl)
        c1 = k * (1.0 - b) + (k * b / avg_dl if avg_dl else 0.0) * dl
        return freq / (c1 + freq)
    s = np.sqrt(freq)
    if with_norms:
        s = s / np.sqrt(dl)
    return s


def score_expr(params: tuple, c0, freq, dl):
    """score(c0, tf, dl) as float64 over numpy arrays.

    float64 (default): c0 * g(tf, dl) — algebraically the reference
    formula, evaluated in doubles for the DuckDB oracle.
    float32 (parity mode): the exact reference op chain with every
    intermediate rounded to float32 — bit-equal to scorers.ref_bm25_f32
    (itself a transcription of bm25.cpp:198-365); see the scorers
    module docstring for the map. A square root or quotient taken in
    float64 and rounded once to float32 equals the float32 operation
    (a double carries more than twice a float's precision), so the
    square roots below run in doubles.
    """
    (kind, k, b, avg_dl, with_norms, norm_mode, dtype, n_docs, ttf,
     tiny) = params
    if dtype != "float32":
        return c0 * g_expr(params, freq, dl)

    def f(x):  # x rounded to float32
        return np.asarray(x, np.float32)

    def f64(x):
        return np.asarray(x, np.float64)

    one = np.float32(1.0)
    c0 = f(c0)
    if kind == "tfidf":
        s = f(c0 * f(np.sqrt(f64(f(freq)))))
        if with_norms:
            s = f(s * f(one / f(np.sqrt(f64(dl)))))
        return f64(s)
    if k == 0.0:  # BM1: constant per term
        return f64(c0)
    if b == 0.0:  # BM15: no norm feature at all (tf = freq)
        tf = f(freq)
        return f64(f(c0 - f(c0 / f(one + f(tf / np.float32(k))))))
    if norm_mode == "legacy":
        tf = f(np.sqrt(f64(f(freq))))
        stored = f(one / f(np.sqrt(f64(dl))))
        nrm = f(one / stored)
    else:
        tf, nrm = f(freq), f(dl)
    nc, nl = f32_stats(k, b, n_docs, ttf)
    c1 = f(np.float32(nc) + f(np.float32(nl) * nrm))
    if tiny and norm_mode != "legacy":
        # kNorm2Tiny: inverse-norm cache path (bm25.cpp:348-352)
        inv_c1 = f(one / c1)
        return f64(f(c0 - f(c0 / f(one + f(tf * inv_c1)))))
    return f64(f(c0 - f(f(c0 * c1) / f(c1 + tf))))


# ----------------------------------------------------------- expansion


def prefix_successor(p: str) -> str | None:
    """Smallest string ordering after every p-prefixed string (the
    exclusive upper bound of the prefix's term interval); None when
    unbounded (prefix of all-max code points)."""
    for i in range(len(p) - 1, -1, -1):
        c = ord(p[i])
        if c < 0x10FFFF:
            return p[:i] + chr(c + 1)
    return None


def like_to_regex(pattern: str) -> str:
    """SQL-LIKE pattern -> anchored regex. Backslash escapes the next
    char (reference wildcard_utils.hpp:43 kEscape='\\\\'), so '\\%' and
    '\\_' match literal '%'/'_' and '\\\\' a literal backslash; a
    trailing bare backslash is literal."""
    out = []
    i = 0
    n = len(pattern)
    while i < n:
        ch = pattern[i]
        if ch == "\\" and i + 1 < n:
            out.append(re.escape(pattern[i + 1]))
            i += 2
            continue
        if ch == "%":
            out.append(".*")
        elif ch == "_":
            out.append(".")
        else:
            out.append(re.escape(ch))
        i += 1
    return "^" + "".join(out) + "$"


def _like_tokens(pattern: str) -> list[tuple[bool, str]]:
    """(is_literal, char) per pattern position, escapes resolved."""
    toks: list[tuple[bool, str]] = []
    i, n = 0, len(pattern)
    while i < n:
        ch = pattern[i]
        if ch == "\\" and i + 1 < n:
            toks.append((True, pattern[i + 1]))
            i += 2
            continue
        toks.append((ch not in ("%", "_"), ch))
        i += 1
    return toks


def wildcard_literal_prefix(pattern: str) -> str:
    """Leading literal run of a LIKE pattern (up to the first unescaped
    % or _) — the seekable prefix of a wildcard query (the reference
    walks its wildcard automaton's literal prefix through the FST the
    same way, wildcard_utils.cpp)."""
    out = []
    for is_lit, ch in _like_tokens(pattern):
        if not is_lit:
            break
        out.append(ch)
    return "".join(out)


def wildcard_literal_suffix(pattern: str) -> str:
    """Trailing literal run of a LIKE pattern (after the last unescaped
    % or _) — the seekable REVERSED prefix of a leading-wildcard query
    via the reversed-term dictionary (the classic reversed-field
    trick)."""
    out = []
    for is_lit, ch in reversed(_like_tokens(pattern)):
        if not is_lit:
            break
        out.append(ch)
    return "".join(reversed(out))


def wildcard_required_grams(pattern: str) -> list[str]:
    """Distinct padded 3-grams every matching term MUST contain: each
    literal run of the pattern appears verbatim in a matching term
    (anchored runs appear at the term's start/end, so they pick up the
    \\x02/\\x03 pad grams). Feeds the k-gram index (IIR §3.2.2) — the
    automaton-∩-FST analogue for infix-only wildcards. Empty when no
    run yields a 3-gram (all runs unanchored and < 3 chars)."""
    toks = _like_tokens(pattern)
    runs: list[tuple[str, bool, bool]] = []  # (text, at_start, at_end)
    cur, cur_start_idx = "", -1
    for idx, (is_lit, ch) in enumerate(toks):
        if is_lit:
            if not cur:
                cur_start_idx = idx
            cur += ch
        else:
            if cur:
                runs.append((cur, cur_start_idx == 0, False))
                cur = ""
    if cur:
        runs.append((cur, cur_start_idx == 0, True))
    grams: set[str] = set()
    for text, at_start, at_end in runs:
        if at_start:
            text = "\x02" + text
        if at_end:
            text = text + "\x03"
        for j in range(len(text) - 2):
            grams.add(text[j : j + 3])
    return sorted(grams)


# expansion ranks as (column, "asc"|"desc") keys over (term, df[,
# distance]) rows: the cluster turns them into an orderBy, the
# in-memory tiers into a sort key (the reference's
# limited_sample_collector and levenshtein_filter.cpp:251-263)
TERM_ORDER = (("df", "desc"), ("term", "asc"))
FUZZY_ORDER = (("distance", "asc"),) + TERM_ORDER
_ROW_FIELDS = {"term": 0, "df": 1, "distance": 2}


def rank(rows, order, limit: int) -> list:
    """The first `limit` (term, df[, distance]) rows under `order`: one
    stable sort per key, least significant first."""
    rows = list(rows)
    for c, d in reversed(order):
        rows.sort(key=itemgetter(_ROW_FIELDS[c]), reverse=d == "desc")
    return rows[:limit]


def capped(rows, limit: int):
    """(expansion, complete) of a Prefix/Wildcard/Range leaf: its top
    `limit` (term, df) rows by (df desc, term asc). `complete` means
    the leaf matches EXACTLY these terms — the cap was not reached — so
    the expansion may stand in for the pattern predicate."""
    head = rank(rows, TERM_ORDER, limit)
    return head, len(head) < limit


class Vocabulary:
    """A sorted in-memory term dictionary (terms, df) and the expansion
    of multiterm leaves against it — a hot replica's vocabulary, or a
    preload_stats cluster engine's whole term dictionary. Python str
    order is Spark's UTF8String order (UTF-8 byte order preserves code
    point order), so slices are the cluster's term intervals and the
    expansions equal the cluster's term_stats scans (pinned by parity
    tests)."""

    def __init__(self, terms, dfs):
        self.terms = np.asarray(terms, dtype=object)
        self.dfs = np.asarray(dfs, dtype=np.int64)

    @classmethod
    def of(cls, df_by_term: dict) -> "Vocabulary":
        terms = sorted(df_by_term)
        return cls(terms, [df_by_term[t] for t in terms])

    def slice(self, lo, hi, include_min=True, include_max=False):
        """(terms, dfs) in the interval [lo, hi] (None = unbounded)."""
        t = self.terms
        i = 0 if lo is None else int(
            np.searchsorted(t, lo, "left" if include_min else "right")
        )
        j = t.size if hi is None else int(
            np.searchsorted(t, hi, "right" if include_max else "left")
        )
        return t[i:j], self.dfs[i:j]

    def _prefixed(self, prefix: str):
        return self.slice(prefix, prefix_successor(prefix))

    def expand(self, node, sem) -> tuple[list, list, bool]:
        """([(term, df)] expansion, [matched terms], complete) of a
        Prefix/Wildcard/Range leaf under `sem`'s scored-term cap, or of
        a Fuzzy leaf (complete: its max_terms cap IS its semantics)."""
        if isinstance(node, ast.Fuzzy):
            expanded = self._fuzzy(node)
            return expanded, [t for t, _ in expanded], True
        if isinstance(node, ast.Prefix):
            t, d = self._prefixed(node.prefix)
        elif isinstance(node, ast.Range):
            t, d = self.slice(
                node.min_term, node.max_term, node.include_min,
                node.include_max,
            )
        elif isinstance(node, ast.Wildcard):
            # the literal prefix bounds the regex walk
            t, d = self._prefixed(wildcard_literal_prefix(node.pattern))
            rx = re.compile(like_to_regex(node.pattern))
            m = np.fromiter((bool(rx.match(x)) for x in t), bool, t.size)
            t, d = t[m], d[m]
        else:
            raise TypeError(f"not an expansion leaf: {node}")
        matched = t.tolist()
        expanded, complete = capped(
            list(zip(matched, d.tolist())), sem.expansion_limit(node)
        )
        return expanded, matched, complete

    def _fuzzy(self, node) -> list[tuple[str, int]]:
        """The cluster's fuzzy candidates: exact-prefix pinning, the
        length band, the distance kernels and the FUZZY_ORDER max_terms
        cap."""
        t, d = self._prefixed(node.prefix)
        if t.size == 0:
            return []
        lens = np.fromiter((len(x) for x in t), np.int64, count=t.size)
        lo, hi = fuzzy_band(node)
        band = (lens >= lo) & (lens <= hi)
        t, d = t[band], d[band]
        if t.size == 0:
            return []
        dist = fuzzy_distances(node, t)
        m = dist <= node.distance
        cand = rank(
            list(zip(t[m].tolist(), d[m].tolist(), dist[m].tolist())),
            FUZZY_ORDER,
            node.max_terms,
        )
        return [(term, df) for term, df, _ in cand]


def fuzzy_band(node) -> tuple[int, int]:
    """Inclusive term-length band of a Fuzzy leaf (|len(a)-len(b)| <= d
    is necessary for distance <= d; the exact prefix counts in full)."""
    n = len(node.prefix) + len(node.term)
    return n - node.distance, n + node.distance


def fuzzy_distances(node, terms) -> np.ndarray:
    """Edit distance of each candidate term's suffix (after the exact
    prefix, levenshtein_filter.hpp:49) to the Fuzzy leaf's term: OSA
    with transpositions, plain Levenshtein without."""
    plen = len(node.prefix)
    if plen:
        terms = np.asarray([t[plen:] for t in terms], dtype=object)
    if node.transpositions:
        return osa_distances_batch(node.term, terms, node.distance)
    return lev_distances_batch(node.term, terms)


def _code_points(q: str, terms):
    n = len(terms)
    lens = np.fromiter((len(t) for t in terms), dtype=np.int64, count=n)
    L = int(lens.max())
    T = np.zeros((n, max(L, 1)), dtype=np.uint32)
    for r, t in enumerate(terms):  # one encode per term, no DP here
        if t:
            T[r, : len(t)] = np.frombuffer(
                t.encode("utf-32-le"), dtype=np.uint32
            )
    qc = (
        np.frombuffer(q.encode("utf-32-le"), dtype=np.uint32)
        if q
        else np.zeros(0, dtype=np.uint32)
    )
    return lens, L, T, qc


def osa_distances_batch(q: str, terms, cap: int) -> np.ndarray:
    """OSA (Damerau without overlapping edits) distance of `q` against a
    whole numpy/pandas batch of terms at once: the DP runs as O(m*L)
    numpy ops over N-wide vectors instead of a per-term Python char
    loop. Terms longer than len(q)+cap are assumed pre-filtered by the
    length band; returns an int32 array (values may exceed cap — caller
    filters). Matches `osa_distance` exactly (differential-tested)."""
    N = len(terms)
    if N == 0:
        return np.zeros(0, dtype=np.int32)
    lens, L, T, qc = _code_points(q, terms)
    prev = np.broadcast_to(np.arange(L + 1, dtype=np.int32), (N, L + 1)).copy()
    prev2 = None
    for i in range(1, len(q) + 1):
        cur = np.empty((N, L + 1), dtype=np.int32)
        cur[:, 0] = i
        for j in range(1, L + 1):
            cost = (T[:, j - 1] != qc[i - 1]).astype(np.int32)
            v = np.minimum(prev[:, j] + 1, prev[:, j - 1] + cost)
            np.minimum(v, cur[:, j - 1] + 1, out=v)
            if prev2 is not None and j > 1 and i > 1:
                trans = (T[:, j - 1] == qc[i - 2]) & (T[:, j - 2] == qc[i - 1])
                v = np.where(trans, np.minimum(v, prev2[:, j - 2] + 1), v)
            cur[:, j] = v
        prev2, prev = prev, cur
    return prev[np.arange(N), lens].astype(np.int32)


def lev_distances_batch(q: str, terms) -> np.ndarray:
    """Plain Levenshtein distance of `q` against a batch of terms — the
    same vectorized row-DP shape as osa_distances_batch without the
    transposition branch; matches Spark's levenshtein(term, q) exactly
    (code-point edits)."""
    N = len(terms)
    if N == 0:
        return np.zeros(0, dtype=np.int32)
    lens, L, T, qc = _code_points(q, terms)
    prev = np.broadcast_to(np.arange(L + 1, dtype=np.int32), (N, L + 1)).copy()
    for i in range(1, len(q) + 1):
        cur = np.empty((N, L + 1), dtype=np.int32)
        cur[:, 0] = i
        for j in range(1, L + 1):
            cost = (T[:, j - 1] != qc[i - 1]).astype(np.int32)
            v = np.minimum(prev[:, j] + 1, prev[:, j - 1] + cost)
            np.minimum(v, cur[:, j - 1] + 1, out=v)
            cur[:, j] = v
        prev = cur
    return prev[np.arange(N), lens].astype(np.int32)


def osa_distance(a: str, b: str, cap: int) -> int:
    """Optimal-string-alignment (Damerau without overlapping edits)
    distance, capped: returns cap+1 as soon as the row minimum exceeds
    cap. Matches the reference's with_transpositions distance
    (levenshtein_utils.cpp builds the same OSA-parameterized automaton);
    the scalar oracle the batch kernel is tested against."""
    la, lb = len(a), len(b)
    if abs(la - lb) > cap:
        return cap + 1
    prev2: list[int] | None = None
    prev = list(range(lb + 1))
    for i in range(1, la + 1):
        cur = [i] + [0] * lb
        ai = a[i - 1]
        for j in range(1, lb + 1):
            cost = 0 if ai == b[j - 1] else 1
            v = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + cost)
            if (
                prev2 is not None
                and j > 1
                and ai == b[j - 2]
                and a[i - 2] == b[j - 1]
            ):
                v = min(v, prev2[j - 2] + 1)
            cur[j] = v
        if min(cur) > cap:
            return cap + 1
        prev2, prev = prev, cur
    return prev[lb]


# ---------------------------------------------------------------- WAND

ALIGN_BITS = 13  # doc-range granularity for bound alignment (2^13 docs)
SPAN_CAP = 64    # a block overlapping more ranges bounds globally


class BoundWalk:
    """The range-aligned block-max bound walk of one WAND query.

    `per_term` maps each query term to (ub, s0, s1): its blocks' score
    upper bounds (c0 * g_ub) and the alignment ranges of their first
    and last doc (`doc >> ALIGN_BITS`). The global
    rest mass (the OTHER terms' corpus-wide max bounds) almost never
    prunes a multi-term disjunction; the lever is ALIGNMENT — what the
    other terms can score near THIS block's doc ids. Coarse 2^13-doc
    ranges give each term a per-range max bound; rest(t, s) is the sum
    of the other terms' range-s bounds (an absent term contributes only
    its WIDE-block global). A block spanning SPAN_CAP or more ranges
    (a rare term) is WIDE and falls back to the global rest.

    Soundness: a doc appears in exactly one block per term, so scores
    over complete seed blocks are achieved (lower-bound) scores, theta
    is the k-th best of them, and a block is dropped only if its own
    bound plus the best the other terms can add in any range it
    overlaps cannot reach theta."""

    def __init__(self, per_term: dict):
        self.terms = per_term
        self.n_blocks = 0
        self.mx: dict[str, float] = {}
        self.wide_of: dict[str, float] = {}
        self.by_ts: dict[tuple[str, int], float] = {}
        for t, (ub, s0, s1) in self.terms.items():
            self.n_blocks += ub.size
            self.mx[t] = float(ub.max()) if ub.size else 0.0
            span = s1 - s0
            widem = span >= SPAN_CAP
            self.wide_of[t] = float(ub[widem].max()) if widem.any() else 0.0
            narrow = np.flatnonzero(~widem)
            single = narrow[span[narrow] == 0]
            if single.size:
                # vectorized per-range max for single-range blocks (most
                # blocks of a url-sorted index)
                ss = s0[single]
                order = np.argsort(ss, kind="stable")
                ss_s, uu_s = ss[order], ub[single][order]
                starts = np.flatnonzero(
                    np.concatenate(([True], ss_s[1:] != ss_s[:-1]))
                )
                gmax = np.maximum.reduceat(uu_s, starts)
                for s, v in zip(ss_s[starts].tolist(), gmax.tolist()):
                    if v > self.by_ts.get((t, s), 0.0):
                        self.by_ts[(t, s)] = v
            for i in narrow[span[narrow] > 0].tolist():
                u = float(ub[i])
                for s in range(int(s0[i]), int(s1[i]) + 1):
                    if u > self.by_ts.get((t, s), 0.0):
                        self.by_ts[(t, s)] = u
        self.total_ub = sum(self.mx.values())
        self.base = sum(self.wide_of.values())
        # per-range sum of effective bounds eff(t, s) = max(narrow max,
        # wide global); absent narrow rows contribute wide_of[t]
        self.sums: dict[int, float] = {}
        for (t, s), v in self.by_ts.items():
            self.sums[s] = self.sums.get(s, self.base) + max(
                v - self.wide_of[t], 0.0
            )

    def seed(self, k: int) -> dict[str, set]:
        """term -> block indices to score for theta: every narrow block
        overlapping one of the best-sum ranges (theta must reflect
        multi-term STACKED scores — the aligned analogue of WAND's
        document-at-a-time pivot) plus the globally best blocks, a
        safety for disjoint-term queries."""
        n_seed = max(1, (k + 63) // 64)
        tr = np.asarray(
            sorted(
                s for s, _ in heapq.nlargest(
                    n_seed, self.sums.items(), key=lambda kv: kv[1]
                )
            ),
            dtype=np.int64,
        )
        n_best = max(2, (4 * k) // 128 + 1)
        seed: dict[str, set] = {}
        best: list[tuple[float, str, int]] = []
        for t, (ub, s0, s1) in self.terms.items():
            if tr.size:
                # block overlaps some top range: exists r with s0<=r<=s1
                pos = np.searchsorted(tr, s0, side="left")
                hit = (pos < tr.size) & (tr[np.minimum(pos, tr.size - 1)] <= s1)
                hit &= (s1 - s0) < SPAN_CAP
                if hit.any():
                    seed.setdefault(t, set()).update(np.flatnonzero(hit).tolist())
            for i in np.argsort(ub)[::-1][:n_best].tolist():
                best.append((float(ub[i]), t, i))
        for _, t, i in heapq.nlargest(n_best, best):
            seed.setdefault(t, set()).add(i)
        return seed

    def keep(self, theta_eff: float) -> dict[str, np.ndarray]:
        """term -> indices of the blocks that can still reach theta."""
        sum_keys = np.asarray(sorted(self.sums), dtype=np.int64)
        sum_vals = np.asarray([self.sums[s] for s in sum_keys.tolist()])

        def lookup(keys, vals, q, default):
            if keys.size == 0:
                return np.full(q.size, default)
            pos = np.minimum(np.searchsorted(keys, q), keys.size - 1)
            return np.where(keys[pos] == q, vals[pos], default)

        out: dict[str, np.ndarray] = {}
        for t, (ub, s0, s1) in self.terms.items():
            span = s1 - s0
            rest = np.empty(ub.size, np.float64)
            widem = span >= SPAN_CAP
            rest[widem] = self.total_ub - self.mx[t]
            singles = np.flatnonzero(~widem & (span == 0))
            if singles.size:
                ts_items = sorted(
                    (s, v) for (tt, s), v in self.by_ts.items() if tt == t
                )
                tk = np.asarray([s for s, _ in ts_items], dtype=np.int64)
                tv = np.asarray([v for _, v in ts_items])
                q = s0[singles]
                sv = lookup(sum_keys, sum_vals, q, self.base)
                ev = np.maximum(lookup(tk, tv, q, 0.0), self.wide_of[t])
                rest[singles] = np.maximum(sv - ev, 0.0)
            for i in np.flatnonzero(~widem & (span > 0)).tolist():
                r = 0.0
                for rs in range(int(s0[i]), int(s1[i]) + 1):
                    eff = max(self.by_ts.get((t, rs), 0.0), self.wide_of[t])
                    r = max(r, self.sums.get(rs, self.base) - eff)
                rest[i] = r
            sel = np.flatnonzero(ub + rest >= theta_eff)
            if sel.size:
                out[t] = sel
        return out


# ------------------------------------------------ boolean and ranking


def bool_parts(node):
    """(positives, optional, negatives, required) of an And/Or node.
    Should children (Lucene optional/score-only clauses) unwrap into
    positives — their boost folded onto the child — whose indices form
    `optional`: they score but never count toward `required`. Exclusions
    never count either (the reference splits incl/excl and passes excl
    into the disjunction, boolean_filter.cpp:221-312)."""
    positives: list = []
    optional: set[int] = set()
    for c in node.children:
        if isinstance(c, ast.Not):
            continue
        if isinstance(c, ast.Should):
            optional.add(len(positives))
            positives.append(
                c.child
                if c.boost == 1.0
                else dataclasses.replace(c.child, boost=c.child.boost * c.boost)
            )
        else:
            positives.append(c)
    negatives = [c.child for c in node.children if isinstance(c, ast.Not)]
    required = (
        len(positives) - len(optional)
        if isinstance(node, ast.And)
        else node.min_match
    )
    return positives, optional, negatives, required


def fold_sum(s: np.ndarray, starts: np.ndarray, f32: bool = False):
    """Per-segment sums of `s` (segments start at `starts`) as a LEFT
    fold in array order — ((s0 + s1) + s2) + ... — accumulating in
    float32 in parity mode. Every tier sums a doc's leaf scores this
    way, in leaf order (np.add.reduceat is no substitute once a segment
    has 3+ values: it sums them pairwise)."""
    if s.size == 0:
        return np.asarray(s, np.float64)
    v = s.astype(np.float32) if f32 else s
    lens = np.empty(starts.size, np.int64)
    lens[:-1] = starts[1:] - starts[:-1]
    lens[-1] = s.size - starts[-1]
    # longest segments first, so the ones still folding at step j are
    # a prefix
    order = np.argsort(-lens, kind="stable")
    st, neg_len = starts[order], -lens[order]
    acc = v[st]  # a copy: fancy indexing
    for j in range(1, -int(neg_len[0])):
        n = int(np.searchsorted(neg_len, -j, side="left"))
        acc[:n] += v[st[:n] + j]
    out = np.empty(acc.size, np.float64)
    out[order] = acc
    return out


def _doc_runs(d: np.ndarray):
    """Stable doc-id sort (keeps leaf order within a doc) plus the start
    of each doc's run."""
    order = np.argsort(d, kind="stable")
    d = d[order]
    starts = np.flatnonzero(np.concatenate(([True], d[1:] != d[:-1])))
    return order, d, starts


def sum_by_doc(d: np.ndarray, s: np.ndarray):
    """(unique doc ids, per-doc float64 left-fold sums in input order)."""
    if d.size == 0:
        return d, s
    order, d, starts = _doc_runs(d)
    return d[starts], fold_sum(s[order], starts)


def merge_by_doc(d, s, r, merge: str, f32: bool = False):
    """Boolean child merge per doc: (doc ids, merged scores, summed
    required flags). Child scores merge per ScoreMergeType
    (scorer.hpp:224-235): sum (default; the left fold in leaf order,
    float32 in parity mode), max, min, or noop (zeroed by the caller)."""
    if d.size == 0:
        return d, s, r
    order, d, starts = _doc_runs(d)
    s, r = s[order], r[order]
    ur = np.add.reduceat(r, starts)
    if merge == "max":
        us = np.maximum.reduceat(s, starts)
    elif merge == "min":
        us = np.minimum.reduceat(s, starts)
    else:
        us = fold_sum(s, starts, f32)
    return d[starts], us, ur


def slot_candidates(part, dfs, expansion) -> list[tuple[str, int]]:
    """[(term, df)] candidates of one positional slot — the reference's
    variadic phrase visitor (phrase_filter.cpp:75-121): a string is one
    fixed term, a Terms slot its distinct terms, an expansion leaf its
    capped expansion (the standalone leaf's cap and order). `dfs(terms)
    -> {term: df}` and `expansion(node) -> [(term, df)]` are the calling
    tier's lookups."""
    if isinstance(part, EXPANSION_LEAVES):
        return expansion(part)
    if isinstance(part, str):
        terms = [part]
    elif isinstance(part, ast.Terms):
        terms = list(dict.fromkeys(part.terms))
    else:
        raise TypeError(f"unsupported phrase slot: {part!r}")
    d = dfs(terms)
    return [(t, d[t]) for t in terms]


def slot_offsets(node) -> list[int]:
    """Position offset of each slot of a positional query: Phrase slots
    follow each other (phrase_iterator.hpp), SamePosition slots coincide
    (same_position_filter.cpp)."""
    if isinstance(node, ast.Phrase):
        return list(range(len(node.terms)))
    return [0] * len(node.terms)


def exists_columns(node, columns) -> list[str]:
    """The stored columns an Exists leaf tests: its column, or in prefix
    mode (ColumnAcceptor) every stored column whose NAME starts with it
    (column names are schema metadata — free at plan time)."""
    if not node.prefix_match:
        return [node.column]
    cols = [
        c
        for c in columns
        if c.startswith(node.column) and c not in ("doc_id", "dl")
    ]
    if not cols:
        raise ValueError(
            f"docs table has no column with prefix {node.column!r}; "
            "build the index with extra_doc_cols=[...] to store them"
        )
    return cols


def route_field(query, by_field: dict, default):
    """(target, query) of a multi-field engine: a single-Field root runs
    NATIVELY on that field's engine (keeping its WAND and shard scan)
    with its boost folded onto the child; any other root runs on
    the default field's engine."""
    if not isinstance(query, ast.Field):
        return default, query
    target = by_field.get(query.field)
    if target is None:
        raise ValueError(
            f"no indexed field {query.field!r}; have {sorted(by_field)}"
        )
    child = query.child
    if query.boost != 1.0:
        child = dataclasses.replace(child, boost=child.boost * query.boost)
    return target, child


def ngram_codes(node):
    """(query code sequence, code per distinct ngram, min occurrences)
    of an NgramSimilarity leaf (ngram_similarity_filter.hpp:33-49):
    LCS >= ceil(threshold*m) needs at least that many doc occurrences
    of query ngrams — a sound candidate prefilter."""
    tcode = {t: i for i, t in enumerate(dict.fromkeys(node.terms))}
    min_match = max(1, math.ceil(node.threshold * len(node.terms)))
    return [tcode[t] for t in node.terms], tcode, min_match


def lcs_lengths(codes, starts, lens, q_codes, max_cells: int = 1 << 23):
    """LCS length of the query code sequence against each row's stream
    codes[starts[i]:starts[i]+lens[i]] (ngram_similarity_query.cpp).
    The row recurrence runs vectorized over the stream axis AND the row
    axis: rows pack into a (rows x max_len) code matrix (pad code -1
    never equals a query code, and the running max is flat over
    padding, so the last column holds every row's answer):
      cur = running_max(max(prev[:, 1:], prev[:, :-1] + eq), axis=1)
    Only the m query slots loop in Python. Rows go in length-sorted
    chunks under a cell budget, so one long doc neither inflates padding
    for short ones nor blows memory."""
    n = len(lens)
    out = np.zeros(n, np.int64)
    by_len = np.argsort(lens, kind="stable")
    i = 0
    while i < n:
        j = i + 1
        while j < n and (j + 1 - i) * int(lens[by_len[j]]) <= max_cells:
            j += 1
        rows = by_len[i:j]
        L = int(lens[rows].max())
        mat = np.full((rows.size, L), -1, np.int32)
        for k, r in enumerate(rows):
            mat[k, : lens[r]] = codes[starts[r] : starts[r] + lens[r]]
        prev = np.zeros((rows.size, L + 1), dtype=np.int32)
        cur = np.empty_like(prev)
        for qc in q_codes:
            eq = (mat == qc).astype(np.int32)
            cur[:, 0] = 0
            np.maximum.accumulate(
                np.maximum(prev[:, 1:], prev[:, :-1] + eq),
                axis=1,
                out=cur[:, 1:],
            )
            prev, cur = cur, prev
        out[rows] = prev[:, -1]
        i = j
    return out


def topk_order(doc_ids: np.ndarray, scores: np.ndarray, k: int):
    """Indices of the top k by (score desc, doc_id asc) — the
    reference's heap keeps the earliest doc on ties
    (utils/index-search.cpp:759)."""
    return np.lexsort((doc_ids, -scores))[:k]
