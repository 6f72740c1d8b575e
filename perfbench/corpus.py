"""Seeded inputs owned by the benchmark: a site-skewed page corpus, the
query-string pool drawn from its vocabulary, and an independent numpy
BM25 oracle over the generator's own token counts.

Nothing here imports the engine, so a change to the program cannot
change the workload. The same seed gives byte-identical inputs.
"""

from __future__ import annotations

import dataclasses
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CONSONANTS = list("bcdfghjklmnprstvz")
VOWELS = list("aeiou")

# query shapes, in the order the per-layer metrics name them
SHAPES = ("term", "and", "or", "minmatch", "phrase", "prefix", "wildcard", "fuzzy")
# shapes the numpy oracle can score (sum-merge BM25 over plain terms)
ORACLE_SHAPES = ("term", "and", "or", "minmatch")

BM25_K1 = 1.2
BM25_B = 0.75


@dataclasses.dataclass
class Corpus:
    """Pages plus the generator's token view of them (word ids per doc,
    CSR by doc), which the oracle scores from."""

    vocab: np.ndarray  # object array of words; index = Zipf rank
    urls: list
    tok: np.ndarray  # int32 word ids, all docs concatenated
    doc_off: np.ndarray  # int64, len n_docs + 1
    texts: list
    topic_slices: np.ndarray  # (n_topics, slice_width) word ids

    @property
    def n_docs(self) -> int:
        return len(self.urls)

    @property
    def dl(self) -> np.ndarray:
        return np.diff(self.doc_off)

    def text_bytes(self) -> int:
        return sum(len(t.encode("utf-8")) for t in self.texts)

    def n_terms(self) -> int:
        return int(np.unique(self.tok).size)


def _make_vocab(rng: np.random.Generator, size: int) -> np.ndarray:
    """Distinct pseudo-words of 2-4 consonant-vowel syllables, so that
    prefix, wildcard and fuzzy queries have realistic neighbourhoods."""
    seen: set[str] = set()
    words: list[str] = []
    while len(words) < size:
        n_syl = rng.integers(2, 5, size=size)
        c = rng.integers(0, len(CONSONANTS), size=(size, 4))
        v = rng.integers(0, len(VOWELS), size=(size, 4))
        for i in range(size):
            w = "".join(
                CONSONANTS[c[i, j]] + VOWELS[v[i, j]] for j in range(n_syl[i])
            )
            if w not in seen:
                seen.add(w)
                words.append(w)
                if len(words) == size:
                    break
    # shorter words are the more frequent ones (as in natural language),
    # so the length of the text per token does not depend on the seed
    words.sort(key=len)
    return np.asarray(words, dtype=object)


def _zipf_cdf(size: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, size + 1, dtype=np.float64) ** s
    return np.cumsum(w) / w.sum()


def make_corpus(
    seed: int,
    n_docs: int,
    vocab_size: int = 12000,
    n_sites: int = 400,
    n_topics: int = 60,
    slice_width: int = 40,
) -> Corpus:
    """Pages of `n_sites` sites with Zipf-skewed page counts. Each site
    has a topic (a 40-word slice of mid-frequency vocabulary) that ~45%
    of its tokens come from, and a short (20-60 tokens) or long
    (80-300 tokens) page-length profile. The other tokens follow a
    Zipf(1.07) law over the whole vocabulary."""
    rng = np.random.default_rng(seed)
    vocab = _make_vocab(rng, vocab_size)
    # the corpus's shape does not depend on the seed: site sizes follow
    # the Zipf law exactly and every fourth site is long; the seed picks
    # the words, topics, lengths and page order
    site_w = 1.0 / np.arange(1, n_sites + 1) ** 0.8
    exact = n_docs * site_w / site_w.sum()
    counts = np.floor(exact).astype(np.int64)
    counts[np.argsort(counts - exact)[: n_docs - counts.sum()]] += 1
    site = rng.permutation(np.repeat(np.arange(n_sites), counts))
    site_topic = rng.integers(0, n_topics, size=n_sites)
    site_long = np.arange(n_sites) % 4 == 1
    lo = np.where(site_long[site], 80, 20)
    hi = np.where(site_long[site], 300, 60)
    dl = rng.integers(lo, hi + 1)
    doc_off = np.concatenate(([0], np.cumsum(dl))).astype(np.int64)
    total = int(doc_off[-1])

    topic_base = 300  # topic slices sit past the head of the Zipf law
    topic_slices = (
        topic_base + np.arange(n_topics * slice_width).reshape(n_topics, slice_width)
    )
    doc_topic = site_topic[site]
    tok_doc = np.repeat(np.arange(n_docs), dl)
    glob = np.searchsorted(_zipf_cdf(vocab_size, 1.07), rng.random(total))
    within = np.searchsorted(_zipf_cdf(slice_width, 1.2), rng.random(total))
    topical = rng.random(total) < 0.45
    tok = np.where(topical, topic_slices[doc_topic[tok_doc], within], glob)
    tok = np.minimum(tok, vocab_size - 1).astype(np.int32)

    # sentences of ~12 words: capitalised first word, ". " separators —
    # the analyzer lowercases and splits them away, the oracle never
    # sees them
    words = vocab[tok]
    cap = np.flatnonzero(rng.random(total) < 1.0 / 12)
    words[cap] = [". " + w.capitalize() for w in words[cap]]
    words[doc_off[:-1]] = [w.lstrip(". ") for w in words[doc_off[:-1]]]
    texts = [" ".join(words[doc_off[d] : doc_off[d + 1]]) for d in range(n_docs)]
    urls = [
        f"https://site{int(s):04d}.example/{vocab[topic_slices[doc_topic[d], 0]]}/{d:07d}"
        for d, s in enumerate(site)
    ]
    return Corpus(vocab, urls, tok, doc_off, texts, topic_slices)


def write_pages(corpus: Corpus, path: str, lo: int = 0, hi: int | None = None) -> None:
    """Common-Crawl-style `pages` parquet (url, warc_ts, html, text,
    lang) for docs [lo, hi)."""
    hi = corpus.n_docs if hi is None else hi
    texts = corpus.texts[lo:hi]
    html = [
        f"<html><head><title>{t[:40]}</title></head><body><p>{t}</p></body></html>".encode()
        for t in texts
    ]
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.arange(lo, hi) * np.timedelta64(
        37, "s"
    )
    tbl = pa.table(
        {
            "url": pa.array(corpus.urls[lo:hi], pa.string()),
            "warc_ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
            "html": pa.array(html, pa.binary()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * (hi - lo), pa.string()),
        }
    )
    os.makedirs(path, exist_ok=True)
    pq.write_table(tbl, os.path.join(path, "part-0.parquet"))


# ---------------------------------------------------------------- queries


@dataclasses.dataclass(frozen=True)
class Query:
    text: str  # Lucene query string
    shape: str
    mode: str  # "exhaustive" or "wand"
    terms: tuple = ()  # plain terms, for the oracle shapes
    min_match: int = 0  # >0: apply to the parsed Or (no query-string syntax)


# Pool slot j has a fixed shape, mode and term-rank band, so the mix of
# work per popularity rank is the same for every seed; the seed picks
# the words (the vocabulary is seeded) and the topics.
PATTERN = (
    "term", "and", "or", "phrase", "term", "minmatch", "prefix", "or", "term", "fuzzy",
    "and", "phrase", "term", "wildcard", "or", "minmatch", "term", "and", "phrase", "fuzzy",
)
_PHI = 0.6180339887498949


def _rank(j: int, t: int = 0, lo: int = 20, hi: int = 3000) -> int:
    """A term rank in [lo, hi), log-uniform over the pool by slot."""
    u = (j * _PHI + t * 0.4142135623730951) % 1.0
    return int(lo * (hi / lo) ** u)


def _make_query(rng, corpus: Corpus, j: int) -> Query:
    shape = PATTERN[j % len(PATTERN)]
    mode = "wand" if (j + j // len(PATTERN)) % 2 else "exhaustive"
    v = corpus.vocab
    if shape == "term":
        t = v[_rank(j)]
        return Query(t, shape, mode, (t,))
    if shape in ("and", "minmatch", "or"):
        topic = corpus.topic_slices[int(rng.integers(0, corpus.topic_slices.shape[0]))]
        n = 3 if shape == "minmatch" else 2
        ts = [v[topic[(j + 5 * i) % 12]] for i in range(n)]
        if shape == "or":
            ts.append(v[_rank(j)])
        if shape == "and":
            return Query(" AND ".join(ts), shape, mode, tuple(ts))
        return Query(" OR ".join(ts), shape, mode, tuple(ts), min_match=2 if shape == "minmatch" else 0)
    if shape == "phrase":
        # the first adjacent pair past the 20 most frequent words, from
        # the middle of a seeded page on
        p = int(corpus.doc_off[int(rng.integers(0, corpus.n_docs))])
        p += int(rng.integers(0, 20))
        while not (corpus.tok[p] >= 20 and corpus.tok[p + 1] >= 20):
            p = (p + 1) % (corpus.tok.size - 1)
        return Query(f'"{v[corpus.tok[p]]} {v[corpus.tok[p + 1]]}"', shape, mode)
    # a word of three or more syllables, so expansions have comparable
    # neighbourhoods whatever the seed
    r = _rank(j, 0, 20, 6000)
    while len(v[r]) < 6:
        r += 1
    w = v[r]
    if shape == "prefix":
        return Query(w[:3] + "*", shape, mode)
    if shape == "wildcard":
        i = 1 + j % (len(w) - 2)
        return Query(w[:i] + "?" + w[i + 1 :], shape, mode)
    # fuzzy: one substitution, distance 1
    i = j % len(w)
    cls = VOWELS if w[i] in VOWELS else CONSONANTS
    c = cls[(cls.index(w[i]) + 1 + j % (len(cls) - 1)) % len(cls)]
    return Query(w[:i] + c + w[i + 1 :] + "~1", shape, mode)


def make_query_pool(seed: int, corpus: Corpus, size: int) -> list:
    """`size` queries over the corpus vocabulary, slot j's shape from
    PATTERN; alternate slots ask for mode="wand" (shapes WAND cannot
    prune fall back to exhaustive in the engine, which is what a client
    asking for WAND gets)."""
    rng = np.random.default_rng([seed, 1])
    return [_make_query(rng, corpus, j) for j in range(size)]


def zipf_stream(seed: int, n_pool: int, n: int, s: float = 0.8) -> np.ndarray:
    """Pool slots, Zipf-popular by slot number: low slots repeat often."""
    rng = np.random.default_rng([seed, 2])
    return np.minimum(np.searchsorted(_zipf_cdf(n_pool, s), rng.random(n)), n_pool - 1)


def topical_or(seed: int, corpus: Corpus, n_terms: int = 4) -> Query:
    """The forced-WAND shape: an Or of one topic's terms, whose posting
    blocks carry the high-tf spread block-max pruning works on."""
    rng = np.random.default_rng([seed, 3])
    topic = corpus.topic_slices[int(rng.integers(0, corpus.topic_slices.shape[0]))]
    ts = [corpus.vocab[i] for i in topic[:n_terms]]
    return Query(" OR ".join(ts), "or", "wand", tuple(ts))


# ----------------------------------------------------------------- oracle


class Oracle:
    """BM25(k1=1.2, b=0.75) top-k from the generator's token counts,
    over docs [0, n) of the corpus, computed with numpy only:

        idf = ln(1 + (N - df + 0.5) / (df + 0.5))
        score(d) = sum_t (k1 + 1) * idf_t * tf / (tf + k1 * (1 - b + b * dl / avg_dl))
    """

    def __init__(self, corpus: Corpus, n: int | None = None):
        n = corpus.n_docs if n is None else n
        self.corpus = corpus
        self.n = n
        end = int(corpus.doc_off[n])
        tok = corpus.tok[:end]
        doc = np.repeat(np.arange(n), np.diff(corpus.doc_off[: n + 1]))
        order = np.lexsort((doc, tok))
        st, sd = tok[order], doc[order]
        # one (term, doc) row per distinct pair, with its count
        new = np.ones(st.size, bool)
        new[1:] = (st[1:] != st[:-1]) | (sd[1:] != sd[:-1])
        starts = np.flatnonzero(new)
        self._pt = st[starts]
        self._pd = sd[starts]
        self._ptf = np.diff(np.append(starts, st.size)).astype(np.float64)
        self._term_lo = np.searchsorted(self._pt, np.arange(len(corpus.vocab) + 1))
        self.dl = np.diff(corpus.doc_off[: n + 1]).astype(np.float64)
        self.avg_dl = float(self.dl.sum()) / n
        self._index = {w: i for i, w in enumerate(corpus.vocab)}

    def postings(self, term: str):
        i = self._index.get(term)
        if i is None:
            return np.empty(0, np.int64), np.empty(0)
        lo, hi = self._term_lo[i], self._term_lo[i + 1]
        return self._pd[lo:hi], self._ptf[lo:hi]

    def scores(self, terms, min_match: int = 1, require_all: bool = False):
        """Per-doc BM25 score, and which docs match."""
        score = np.zeros(self.n)
        hits = np.zeros(self.n, np.int64)
        for t in terms:
            d, tf = self.postings(t)
            df = d.size
            if df == 0:
                continue
            idf = np.log(1.0 + (self.n - df + 0.5) / (df + 0.5))
            c1 = BM25_K1 * (1 - BM25_B) + BM25_K1 * BM25_B * self.dl[d] / self.avg_dl
            score[d] += (BM25_K1 + 1) * idf * tf / (c1 + tf)
            hits[d] += 1
        need = len(terms) if require_all else max(1, min_match)
        return score, hits >= need

    def topk(self, q: Query, k: int):
        """(top-k scores, descending; every doc's score)"""
        score, ok = self.scores(q.terms, q.min_match, require_all=q.shape == "and")
        return -np.sort(-score[ok])[:k], score

