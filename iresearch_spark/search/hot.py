"""Driver-resident low-latency serving path (the "hot segment").

The reference is an EMBEDDED engine answering queries in microseconds
from mmapped segments (`core/index/directory_reader.hpp`); the Spark
cluster path pays a ~0.3 s/job scheduling floor per query, which is the
right trade at 10^12 docs but not for a small, hot index. HotEngine
pins an index's posting blocks in DRIVER memory (compact codec blobs,
decoded lazily per term and cached as numpy arrays) and answers
Term / Terms / And / Or(min_match) / Not / Should and plain-string
Phrase / SamePosition queries without
launching a single Spark job — scoring, expansion, boolean merge and
top-k follow the SAME rules the cluster uses (search/semantics.py: one
score kernel, one leaf-order sum fold), so scores are bit-identical
(float64 and float32 parity modes alike) and top-k order matches the
cluster path exactly (differential-tested).

mode="wand" here is a REAL block-max WAND: per-block upper bounds from
the stored (tf, dl) impact pairs, theta seeded from the doc-range with
the highest stacked bound, surviving blocks decoded only — with no job
floor the pruning shows up directly as wall-clock.

The pinned data and every cache over it live in one HotState per
commit; HotEngine holds a single reference to it, which a query reads
once and refresh() swaps. The cluster scores postings with the SAME
evaluator and no other: each doc-range shard of its one-job scan
builds a HotState from its posting blocks (`ShardPlan`,
`shard_kernel`) and answers the query — or, in a tree that mixes in
docs-table leaves, each postings-only subtree under the boost it
inherits — while the cluster's DataFrame plan reads only the docs
table.

Multi-term leaves (Prefix / Wildcard / Range / Fuzzy) are served too:
the hot segment holds the FULL term dictionary in memory, so expansion
is a sorted-vocabulary slice / regex walk / banded DP instead of a
Spark job. `_hot_expansion` applies the semantics core's expansion
rules to the in-memory vocabulary — the same candidate sets, (df desc,
term asc) order, scored_terms_limit / max_terms caps and
matched-but-unscored semantics for capped expansions as the cluster's
`_leaf_expansion` — and caches them per node in this replica only (the
reference's prepared-query seek cookies, multiterm_query.cpp:36-100);
WAND eligibility reads the same cache through an expansion callback.

Columnar leaves are served in-memory too: stored doc columns pin
LAZILY on first use (one Arrow collect per column, sorted by doc_id),
so Exists (incl. name-prefix mode), NumericRange, GranularRange (via
the stored-column tier — identical semantics to the granular
dictionary decomposition, which exists only to prune a cluster scan),
Nested parent/child rollups, AllDocs, Empty, and Cached all answer
driver-resident. Lazily pinned columns are NOT counted by the
constructor's postings-blob budget check — a serving replica sizes
max_bytes for blobs + the columns its query mix touches.

Occurrence features ride along: when the index carries OFFS/PAY blobs
(with_offsets / payload_delimiter at build), `highlight()` and
`payloads()` decode them in-memory — the same rows as the cluster
APIs, ms-latency snippet/payload serving next to the top-k itself.

Scale story: a hot segment is bounded by `max_bytes` (default 1 GiB of
blobs) — the serving tier for a 10^12-doc corpus is many such replicas
over index shards (or time-sliced heads), with the cluster path as the
long-tail fallback; a Spark-built `HotEngine.search` itself falls
back to the cluster engine for the query shapes it does not serve (GranularRange
when the range column exists only in the numeric dictionary; every
other shape — NgramSimilarity's per-candidate LCS, and Field-scoped
subtrees through `HotMultiFieldEngine`'s per-field replicas —
answers in-memory).
"""

from __future__ import annotations

import dataclasses
import threading
from collections import defaultdict

import numpy as np

from iresearch_spark.index import codec
from iresearch_spark.search import ast, planner
from iresearch_spark.search import semantics as sem_

# posting-block columns every replica and cluster shard reads; positions
# and the occurrence (OFFS/PAY) blobs ride along when present
BLOCK_COLS = (
    "term", "n_docs", "first_doc", "last_doc", "docs", "dls",
    "block_impacts", "block_max_freq", "block_min_dl",
)
_AUX_COLS = ("off_starts", "off_lens", "pay_lens", "pay_bytes")


def deleted_ids(index) -> np.ndarray | None:
    """Sorted int64 doc ids of the index's delete mask (None without
    one) — one collect of the mask table."""
    if index.deleted is None:
        return None
    return np.sort(
        np.asarray(
            [r["doc_id"] for r in index.deleted.select("doc_id").collect()],
            dtype=np.int64,
        )
    )


def _dir_fingerprint(path: str):
    """Commit-state fingerprint of a saved index dir for refresh():
    the incremental manifest's version (plus segment ids) when there
    is one, else the manifest file's (mtime_ns, size) — both change on
    every commit/overwrite and cost one stat + at most one small JSON
    read."""
    import json
    import os

    mpath = os.path.join(path, "manifest.json")
    try:
        st = os.stat(mpath)
    except FileNotFoundError:
        return None
    base = (st.st_mtime_ns, st.st_size)
    try:
        with open(mpath) as f:
            m = json.load(f)
    except (OSError, ValueError):
        return base
    if "segments" in m:
        return (m.get("version"), tuple(s["id"] for s in m["segments"]))
    return base


def _multifield_fingerprint(path: str):
    """multifield.json's (mtime, size) plus each field's manifest
    fingerprint, in sorted field order."""
    import json
    import os

    mf = os.path.join(path, "multifield.json")
    try:
        st = os.stat(mf)
        with open(mf) as f:
            fields = sorted(json.load(f)["fields"])
    except (OSError, ValueError, KeyError):
        return None
    return (
        (st.st_mtime_ns, st.st_size),
        tuple(
            _dir_fingerprint(os.path.join(path, f"field={f}"))
            for f in fields
        ),
    )


def _sorted_pairs(d: np.ndarray, p: np.ndarray):
    """The distinct (d, p) pairs, sorted by (d, p)."""
    o = np.lexsort((p, d))
    d, p = d[o], p[o]
    keep = np.ones(d.size, bool)
    keep[1:] = (d[1:] != d[:-1]) | (p[1:] != p[:-1])
    return d[keep], p[keep]


def _common_pairs(a, b):
    """The pairs in both of two _sorted_pairs results, sorted."""
    d = np.concatenate((a[0], b[0]))
    p = np.concatenate((a[1], b[1]))
    o = np.lexsort((p, d))
    d, p = d[o], p[o]
    dup = np.flatnonzero((d[1:] == d[:-1]) & (p[1:] == p[:-1]))
    return d[dup], p[dup]


class HotState:
    """One pinned commit of an index's posting blocks plus every cache
    built over it (decoded blocks, WAND bounds, expansions, pinned doc
    columns). A query reads its replica's state ONCE and runs on that
    object alone, so a concurrent refresh() — which swaps the replica's
    one state reference — can never mix two commits in one answer.

    The same object is the cluster's per-shard kernel (see
    `shard_kernel`): built from one doc-range shard's Arrow block table
    plus the driver's GLOBAL df, multiterm expansions and delete mask,
    with every decode clipped to the shard's doc-id range, so shard-local
    values never reach a score or a WAND bound."""

    def __init__(
        self,
        sem,
        tbl,
        *,
        engine=None,
        deleted=None,
        dfs=None,
        expansions=None,
        doc_range=None,
        blob_bytes: int = 0,
        max_bytes: int = 0,
    ):
        self.engine = engine
        self.index = getattr(engine, "index", None)
        self.sem = sem
        self._kernel = sem.kernel
        self._max_bytes = max_bytes
        self._blob_bytes = int(blob_bytes)
        names = tbl.column_names
        self._with_positions = "positions" in names
        self._with_offsets = "off_starts" in names
        self._with_payloads = "pay_lens" in names
        self._deleted = deleted
        # driver-supplied {node: (expansion, complete)} and doc range of
        # a cluster shard (None on a pinned replica)
        self._given = dict(expansions or {})
        self._range = doc_range
        self._ingest(tbl, [c for c in _AUX_COLS if c in names])
        if dfs is not None:
            self._df = dict(dfs)
        self._decoded: dict[str, list] = {}
        self._decoded_pos: dict[str, tuple] = {}
        self._bounds: dict[str, tuple] = {}
        self._vocab: sem_.Vocabulary | None = None
        self._expansion: dict = {}
        self._cols: dict[str, tuple] = {}
        self._spine: np.ndarray | None = None
        self._proxy: dict = {}
        self._field_hots: dict[str, "HotState"] | None = None
        self.last_wand_stats: dict | None = None

    @classmethod
    def pin(cls, engine, max_bytes: int) -> "HotState":
        """Pin `engine`'s index: one Arrow read of its posting blocks
        (a Spark collect, or pyarrow for an embedded LocalSource) under
        the `max_bytes` blob budget, plus its delete mask."""
        index = engine.index
        cols = list(BLOCK_COLS)
        if index.with_positions:
            cols.append("positions")
        if getattr(index, "with_offsets", False):
            cols += ["off_starts", "off_lens"]
        if getattr(index, "with_payloads", False):
            cols += ["pay_lens", "pay_bytes"]

        def _over_budget(size):
            raise ValueError(
                f"index blobs ({size >> 20} MiB) exceed the hot budget "
                f"({max_bytes >> 20} MiB) — serve it sharded, or use "
                "the cluster path"
            )

        if hasattr(index, "postings_arrow"):
            # Spark-free path (search/embedded.py): the blobs come off
            # the saved parquet layout via pyarrow. The footer-stats
            # estimate guards the read (refuse before materializing an
            # index far past the budget); the exact length-sum check
            # after it matches the Spark path's semantics.
            meta = index.postings_meta_blob_bytes()
            if meta > max_bytes * 2:
                _over_budget(meta)
            tbl, size = index.postings_arrow(cols)
            if size > max_bytes:
                _over_budget(size)
        else:
            from pyspark.sql import functions as F

            size = index.postings.select(
                (
                    F.sum(F.length("docs") + F.length("dls"))
                ).alias("bytes")
            ).collect()[0]["bytes"]
            if size is not None and size > max_bytes:
                _over_budget(size)
            slim = index.postings.filter(F.col("term") != "").select(*cols)
            # Arrow collect: Row-object conversion of a ~10^5-block
            # index took ~90 s; the Arrow table lands in ~2 s
            tbl = slim.toArrow()
        return cls(
            engine.sem,
            tbl,
            engine=engine,
            deleted=deleted_ids(index),
            blob_bytes=size or 0,
            max_bytes=max_bytes,
        )

    def _ingest(self, tbl, aux_cols):
        import pyarrow.compute as pc

        # ONE C-side sort by (term, first_doc): every term's block list
        # comes out contiguous and first_doc-ordered (first_doc is
        # unique per term), replacing both the per-row python grouping
        # loop and 30k+ per-term sorts — at ~1M posting blocks this cut
        # replica pin time ~2.5x on top of the impacts fix
        if tbl.num_rows:
            tbl = tbl.take(
                pc.sort_indices(
                    tbl,
                    sort_keys=[
                        ("term", "ascending"),
                        ("first_doc", "ascending"),
                    ],
                )
            )
        terms_c = tbl.column("term").to_pylist()
        self._nd_a = tbl.column("n_docs").to_numpy(
            zero_copy_only=False
        ).astype(np.int64)
        self._fd_a = tbl.column("first_doc").to_numpy(
            zero_copy_only=False
        ).astype(np.int64)
        self._ld_a = tbl.column("last_doc").to_numpy(
            zero_copy_only=False
        ).astype(np.int64)
        self._mf_a = tbl.column("block_max_freq").to_numpy(
            zero_copy_only=False
        ).astype(np.int64)
        self._md_a = tbl.column("block_min_dl").to_numpy(
            zero_copy_only=False
        ).astype(np.int64)
        # blob columns STAY as arrow arrays: materializing 3M python
        # bytes objects up front was most of replica pin time (and
        # ~100s of MB of object overhead at 1M blocks); the decode
        # reads a term's row span on first touch, so only queried
        # terms ever pay
        self._bin_docs = tbl.column("docs").combine_chunks()
        self._bin_dls = tbl.column("dls").combine_chunks()
        self._bin_pos = (
            tbl.column("positions").combine_chunks()
            if self._with_positions
            else None
        )
        self._bin_aux = (
            [tbl.column(c).combine_chunks() for c in aux_cols]
            if aux_cols
            else None
        )
        # impacts: vectorized extraction — to_pylist() of the
        # list<struct<tf,dl>> column builds a dict per pair and was
        # >half of replica pin time at 28k terms; slicing the flattened
        # child arrays gives each block a (tf int32[], dl int32[]) pair
        # of numpy views instead
        impcol = tbl.column("block_impacts").combine_chunks()
        n_rows = len(impcol)
        if impcol.null_count == n_rows:
            self._imp_a = None  # pre-impacts index: loose bounds
        else:
            self._imp_a = (
                impcol.values.field("tf").to_numpy(zero_copy_only=False),
                impcol.values.field("dl").to_numpy(zero_copy_only=False),
                impcol.offsets.to_numpy(zero_copy_only=False).astype(
                    np.int64
                ),
                (
                    np.ones(n_rows, bool)
                    if impcol.null_count == 0
                    else ~np.asarray(impcol.is_null())
                ),
            )
        # contiguous per-term row spans of the sorted columns
        self._spans: dict[str, tuple] = {}
        self._aux: dict[str, list] = {}
        self._df: dict[str, int] = defaultdict(int)
        n = len(terms_c)
        if n:
            tarr = np.asarray(terms_c, dtype=object)
            brk = np.nonzero(tarr[1:] != tarr[:-1])[0] + 1
            starts = np.concatenate(([0], brk)).astype(np.int64)
            ends = np.concatenate((brk, [n])).astype(np.int64)
            dfs = np.add.reduceat(self._nd_a, starts)
            for s, e, dfv in zip(
                starts.tolist(), ends.tolist(), dfs.tolist()
            ):
                t = terms_c[s]
                self._spans[t] = (s, e)
                self._df[t] = int(dfv)

    def _auxl(self, term: str) -> list:
        """The term's (first_doc, (aux blobs...)) list (OFFS/PAY
        occurrence features), block-aligned with the term's row span —
        materialized on first touch."""
        if self._bin_aux is None:
            return []
        hit = self._aux.get(term)
        if hit is not None:
            return hit
        span = self._spans.get(term)
        if span is None:
            return []
        s, e = span
        out = list(
            zip(
                self._fd_a[s:e].tolist(),
                zip(*(a[s:e].to_pylist() for a in self._bin_aux)),
            )
        )
        self._aux[term] = out
        return out

    # ------------------------------------------------------------ memory

    def memory_stats(self) -> dict:
        """Actual driver residency of this replica vs its budget — the
        number a serving fleet watches when packing replicas onto a
        host. `blob_bytes` is what the constructor's budget check
        guards (compact docs+dls codec blobs); everything else grows
        lazily with the query mix: positions blobs ride along when the
        index has them, decoded blocks / positions / WAND bounds are
        per-term caches, and pinned doc columns (Exists/NumericRange/
        Nested) count their full payload including string bytes.
        `resident_bytes` is the sum of all of it."""
        import pyarrow.compute as pc

        def _bin_total(arr) -> int:
            if arr is None or len(arr) == 0:
                return 0
            return int(pc.sum(pc.binary_length(arr)).as_py() or 0)

        pos_blob = _bin_total(self._bin_pos)
        aux_blob = (
            sum(_bin_total(a) for a in self._bin_aux)
            if self._bin_aux is not None
            else 0
        )
        decoded = sum(
            a.nbytes
            for slots in self._decoded.values()
            for hit in slots
            if hit is not None
            for a in hit
        )
        decoded_pos = sum(
            a.nbytes for hit in self._decoded_pos.values() for a in hit
        )
        bounds = sum(
            a.nbytes for hit in self._bounds.values() for a in hit
        )

        def _arr_bytes(a) -> int:
            n = int(a.nbytes)
            if a.dtype == object:
                n += sum(
                    len(x.encode("utf-8")) if isinstance(x, str)
                    else len(x) if isinstance(x, (bytes, bytearray))
                    else 0
                    for x in a
                )
            return n

        cols = sum(
            _arr_bytes(a) for hit in self._cols.values() for a in hit
        )
        vocab = (
            sum(_arr_bytes(a) for a in (self._vocab.terms, self._vocab.dfs))
            if self._vocab
            else 0
        )
        spine = self._spine.nbytes if self._spine is not None else 0
        stats = {
            "budget_bytes": self._max_bytes,
            "blob_bytes": self._blob_bytes,
            "positions_blob_bytes": pos_blob,
            "occurrence_blob_bytes": aux_blob,
            "decoded_bytes": decoded + decoded_pos,
            "bounds_bytes": bounds,
            "pinned_column_bytes": cols + spine,
            "vocab_bytes": vocab,
            "n_terms": len(self._spans),
            "n_terms_decoded": len(self._decoded),
            "n_pinned_columns": len(self._cols),
        }
        stats["resident_bytes"] = (
            stats["blob_bytes"] + pos_blob + aux_blob
            + stats["decoded_bytes"]
            + bounds + stats["pinned_column_bytes"] + vocab
        )
        return stats

    # ------------------------------------------------------------ decode

    def _decode_rows(self, rows: np.ndarray, want_pos: bool) -> dict:
        """codec.decode_batch_arrays over the posting-block rows `rows`
        of the sorted columns: ONE vectorized pass, however many
        blocks."""
        import pyarrow as pa

        if rows[-1] - rows[0] + 1 == rows.size:  # a contiguous run
            take = lambda a: a.slice(int(rows[0]), int(rows.size))  # noqa: E731
        else:
            idx = pa.array(rows)
            take = lambda a: a.take(idx)  # noqa: E731
        cols = [pa.array(self._nd_a[rows]), take(self._bin_docs), take(self._bin_dls)]
        names = ["n_docs", "docs", "dls"]
        if want_pos:
            cols.append(take(self._bin_pos))
            names.append("positions")
        return codec.decode_batch_arrays(
            pa.RecordBatch.from_arrays(cols, names=names), want_pos
        )

    def _decode_blocks(self, term: str, idxs=None):
        """Decode (and cache) the term's posting blocks — PER BLOCK, so
        a WAND-pruned read only ever decodes surviving blocks (all the
        missing ones of a call in one vectorized pass). idxs: iterable
        of block indices (None = all). Returns concatenated (doc_ids,
        freqs, dls)."""
        s, e = self._spans.get(term, (0, 0))
        slots = self._decoded.get(term)
        if slots is None:
            slots = [None] * (e - s)
            self._decoded[term] = slots
        want = range(e - s) if idxs is None else sorted(
            i for i in idxs if i < e - s
        )
        missing = np.asarray([i for i in want if slots[i] is None], np.int64)
        if missing.size:
            d = self._decode_rows(s + missing, False)
            hit = (d["doc_ids"], d["freqs"], d["dls"])
            if self._range is not None:
                m = self._in_range(hit[0])
                owner = np.repeat(np.arange(missing.size), self._nd_a[s + missing])
                hit = tuple(a[m] for a in hit)
                cuts = np.cumsum(np.bincount(owner[m], minlength=missing.size))
            else:
                cuts = np.cumsum(self._nd_a[s + missing])
            for i, block in zip(
                missing.tolist(), zip(*(np.split(a, cuts[:-1]) for a in hit))
            ):
                slots[i] = block
            if missing.size == len(want):
                return hit  # every wanted block, already in block order
        parts = [slots[i] for i in want]
        if not parts:
            e = np.empty(0, np.int64)
            return e, e.copy(), e.copy()
        if len(parts) == 1:
            return parts[0]
        return tuple(np.concatenate([p[j] for p in parts]) for j in range(3))

    def _in_range(self, doc_ids: np.ndarray) -> np.ndarray:
        """Mask of the doc ids inside this shard's [lo, hi) range — a
        posting block straddling a shard boundary is decoded by every
        shard it overlaps and clipped here."""
        lo, hi = self._range
        return (doc_ids >= lo) & (doc_ids < hi)

    def _decode_positions(self, term: str):
        """Concatenated (doc_ids, dls, pos_values, pos_offsets) for ALL
        of a term's postings — pos_offsets[i]:pos_offsets[i+1] slices
        the i-th posting's ascending positions. Cached per term."""
        hit = self._decoded_pos.get(term)
        if hit is not None:
            return hit
        if not self._with_positions:
            raise ValueError("index was built without positions")
        s, e = self._spans.get(term, (0, 0))
        if e > s:
            d = self._decode_rows(np.arange(s, e), True)
            doc_ids, dls, freqs = d["doc_ids"], d["dls"], d["freqs"]
            pos = d["pos_values"].astype(np.int64)
        else:
            doc_ids = dls = freqs = pos = np.empty(0, np.int64)
        if self._range is not None:
            m = self._in_range(doc_ids)
            pos = pos[np.repeat(m, freqs)]
            doc_ids, dls, freqs = doc_ids[m], dls[m], freqs[m]
        offsets = np.concatenate(([0], np.cumsum(freqs)))
        out = (doc_ids, dls, pos, offsets)
        self._decoded_pos[term] = out
        return out

    def _term_bound_arrays(self, term: str):
        """Query-independent per-block WAND data, cached: (g_ub
        float64[B], s0 int64[B], s1 int64[B]) — a block's score bound
        is c0 * g_ub over alignment ranges s0..s1 (BoundWalk)."""
        hit = self._bounds.get(term)
        if hit is not None:
            return hit
        span = self._spans.get(term)
        if span is None:
            e = np.empty(0, np.int64)
            return np.empty(0, np.float64), e, e
        s, e = span
        if self._imp_a is None:
            tf = dl = offs = ok = None
        else:
            tf, dl, offs_all, ok_all = self._imp_a
            offs, ok = offs_all[s:e + 1], ok_all[s:e]
        g = self.sem.block_g_ub(
            tf, dl, offs, ok, self._mf_a[s:e], self._md_a[s:e]
        )
        s0, s1 = (a[s:e] >> sem_.ALIGN_BITS for a in (self._fd_a, self._ld_a))
        out = (g, s0, s1)
        self._bounds[term] = out
        return out

    # --------------------------------------------------------- expansion

    def _vocabulary(self) -> sem_.Vocabulary:
        """The replica's sorted in-memory term dictionary (for a cluster
        shard: the terms of its block table)."""
        if self._vocab is None:
            self._vocab = sem_.Vocabulary.of(
                {t: self._df.get(t, 0) for t in self._spans}
            )
        return self._vocab

    def _hot_expansion(self, node):
        """([(term, df)] expansion, [matched terms], complete) for a
        multiterm leaf, computed against the in-memory vocabulary under
        the semantics core's caps and order — output-identical to the
        cluster's _leaf_expansion (pinned by parity tests) — and cached
        per node in this replica. A cluster shard takes the expansion
        the driver supplied instead (its vocabulary is the shard's block
        table): complete, it is the matched set; capped, the leaf also
        matches the unscored terms the scan predicate brought in."""
        hit = self._expansion.get(node)
        if hit is not None:
            return hit
        given = self._given.get(node)
        if given is not None and given[1]:
            out = (given[0], [t for t, _ in given[0]], True)
        else:
            out = self._vocabulary().expand(node, self.sem)
            if given is not None:
                out = (given[0], out[1], False)
        self._expansion[node] = out
        return out

    def _expand_complete(self, node):
        """(expansion, complete) — the callback semantics.wand_terms
        reads."""
        expanded, _matched, complete = self._hot_expansion(node)
        return expanded, complete

    def _expansion_postings(self, node, boost, keep=None):
        """Scored multiterm leaf -> (doc_ids, scores): EVERY matched
        term's docs are rows (a capped expansion leaves its beyond-cap
        terms matched at weight 0.0), scored terms carry c0(df,
        eff_boost)."""
        expanded, matched, _complete = self._hot_expansion(node)
        eff = boost * node.boost
        w = {t: self.sem.c0(df, eff) for t, df in expanded}
        return self._score_terms(w, matched, keep)

    def _score(self, c0: float, freqs, dls) -> np.ndarray:
        """float64 score per posting (semantics.score_expr); c0 goes in
        as an np.float64 scalar, and a BM1 constant is broadcast."""
        s = np.asarray(self._kernel(np.float64(c0), freqs, dls), np.float64)
        return s if s.shape == freqs.shape else np.full(freqs.shape, s)

    def _score_terms(self, weights: dict, terms, keep):
        """(doc_ids, scores) of a leaf over `terms`: each term's postings
        scored with its c0 (absent = 0.0, matched but unscored), a doc's
        per-term scores summed in term order (the leaf-sum rule every
        tier shares). keep: optional per-term block indices to decode
        (WAND survivors)."""
        parts = []
        for term in sorted(terms):
            if term not in self._spans:
                continue
            sel = keep.get(term) if keep is not None else None
            if keep is not None and sel is None:
                continue  # WAND kept no blocks of this term
            d, f, l = self._decode_blocks(term, sel)
            if d.size == 0:
                continue
            parts.append((d, self._score(weights.get(term, 0.0), f, l)))
        if not parts:
            e = np.empty(0, np.int64)
            return e, np.empty(0, np.float64)
        if len(parts) == 1:
            return parts[0]
        d = np.concatenate([p[0] for p in parts])
        s = np.concatenate([p[1] for p in parts])
        return sem_.sum_by_doc(d, s)

    # ----------------------------------------------------- doc columns

    def _doc_spine(self) -> np.ndarray:
        """Sorted int64 doc_id array of the docs table, pinned once
        (AllDocs / Nested parent-membership)."""
        if self._spine is None:
            tbl = self.index.docs.select("doc_id").toArrow()
            ids = tbl.column("doc_id").to_numpy(
                zero_copy_only=False
            ).astype(np.int64)
            self._spine = np.sort(ids)
        return self._spine

    def _doc_col(self, name: str):
        """Pin a stored doc column: (doc_ids sorted int64, valid bool
        mask, values ndarray) aligned index-for-index. One Arrow
        collect per column, cached for the engine's lifetime; every
        pinned column shares the same sorted-doc_id spine (doc ids are
        unique), so masks from different columns OR together directly
        (Exists prefix mode)."""
        hit = self._cols.get(name)
        if hit is not None:
            return hit
        docs = self.index.docs
        if name not in docs.columns:
            raise ValueError(
                f"docs table has no column {name!r}; build the index "
                "with extra_doc_cols=[...] to store it"
            )
        tbl = docs.select("doc_id", name).toArrow()
        ids = tbl.column("doc_id").to_numpy(
            zero_copy_only=False
        ).astype(np.int64)
        col = tbl.column(name).combine_chunks()
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        valid = (
            np.asarray(col.is_valid())[order]
            if col.null_count
            else np.ones(ids.size, bool)
        )
        vals = col.to_numpy(zero_copy_only=False)[order]
        hit = (ids, valid, vals)
        self._cols[name] = hit
        return hit

    def _numeric_range_docs(self, node) -> np.ndarray:
        """Matching doc_ids of a NumericRange/GranularRange over the
        stored column — the cluster predicate in numpy. NULL never
        matches (valid mask). NaN mirrors the tier the CLUSTER would
        use for this node: Spark comparison semantics order NaN above
        every number, so a stored-column NumericRange matches NaN on
        min-only/unbounded predicates — numpy's IEEE compares (always
        False) are fixed up to agree; a GranularRange whose column is
        in the numeric dictionary never matches NaN (the dictionary
        build filters NULL/NaN, index/numeric.py:147-148), while a
        dictionary-less GranularRange is the cluster's NumericRange
        fallback and keeps Spark NaN semantics."""
        ids, valid, vals = self._doc_col(node.column)
        ids, v = ids[valid], vals[valid]
        m = np.ones(v.size, bool)
        if node.min_val is not None:
            m &= (
                (v >= node.min_val)
                if node.include_min
                else (v > node.min_val)
            )
        if node.max_val is not None:
            m &= (
                (v <= node.max_val)
                if node.include_max
                else (v < node.max_val)
            )
        if v.size and np.issubdtype(np.asarray(v).dtype, np.floating):
            idx = self.index
            dict_tier = isinstance(node, ast.GranularRange) and (
                idx.num_terms is not None
                and node.column in (idx.numeric_meta or {})
            )
            isnan = v != v
            if dict_tier or node.max_val is not None:
                m &= ~isnan
            else:
                m |= isnan
        return ids[m]

    def _eval_nested_hot(self, node, boost):
        """Nested parent/child rollup in numpy — the cluster
        _eval_nested semantics: child matches (deletes already applied
        per leaf) map to parents via the pinned parent_col, scores
        merge per merge_type, parents keep iff matching-child count in
        [min_children, max_children] and the parent is itself a live
        doc of this index."""
        if node.min_children < 1:
            raise ValueError("min_children must be >= 1")
        ids, valid, pvals = self._doc_col(node.parent_col)
        empty = (np.empty(0, np.int64), np.empty(0, np.float64))
        cd, cs = self._eval(node.child, 1.0, None)
        if cd.size == 0 or ids.size == 0:
            return empty
        pos = np.minimum(np.searchsorted(ids, cd), ids.size - 1)
        ok = (ids[pos] == cd) & valid[pos]
        if not ok.any():
            return empty
        par_raw = pvals[pos[ok]]
        cs = np.asarray(cs)[ok]
        if par_raw.dtype == object:
            par = np.asarray(
                [int(x) for x in par_raw.tolist()], dtype=np.int64
            )
        else:
            par = par_raw.astype(np.int64)
        # children in (parent, child doc id) order: a parent's sum is
        # the left fold over its children in doc-id order, as on the
        # cluster
        order = np.lexsort((cd[ok], par))
        par, cs = par[order], cs[order]
        bound = np.empty(par.size, bool)
        bound[0] = True
        bound[1:] = par[1:] != par[:-1]
        starts = np.flatnonzero(bound)
        up = par[starts]
        nc = np.diff(np.append(starts, par.size))
        if node.merge_type == "max":
            us = np.maximum.reduceat(cs, starts)
        elif node.merge_type == "min":
            us = np.minimum.reduceat(cs, starts)
        else:  # sum / noop
            us = sem_.fold_sum(cs, starts)
        m = nc >= node.min_children
        if node.max_children is not None:
            m &= nc <= node.max_children
        up, us = up[m], us[m]
        if node.merge_type == "noop":
            us = np.zeros(us.size, np.float64)
        else:
            us = us * float(node.boost * boost)
        spine = self._doc_spine()
        if spine.size == 0:
            return empty
        p2 = np.minimum(np.searchsorted(spine, up), spine.size - 1)
        live = spine[p2] == up
        return self._apply_deletes(up[live], us[live])

    def _eval_ngram_sim_hot(self, node, boost):
        """by_ngram_similarity (ngram_similarity_filter.hpp:33-49):
        candidate docs hold >= ceil(threshold*m) occurrences of the
        query's (present) ngrams; per candidate, LCS of (query ngram
        sequence, doc's position-ordered ngram stream); similarity =
        LCS/m, match iff >= threshold, score = boost * similarity (a
        plain f64 multiply, never rounded through
        Semantics.const_score)."""
        if not self._with_positions:
            raise ValueError("index was built without positions")
        empty = (np.empty(0, np.int64), np.empty(0, np.float64))
        m = len(node.terms)
        if m == 0:
            return empty
        q_codes, tcode, min_match = sem_.ngram_codes(node)
        present = [t for t in tcode if self._df.get(t, 0) > 0]
        d_parts, p_parts, c_parts = [], [], []
        for t in present:
            doc_ids, _dls, pos, offs = self._decode_positions(t)
            if pos.size == 0:
                continue
            d_parts.append(np.repeat(doc_ids, np.diff(offs)))
            p_parts.append(pos)
            c_parts.append(np.full(pos.size, tcode[t], np.int32))
        if not d_parts:
            return empty
        D = np.concatenate(d_parts)
        P = np.concatenate(p_parts)
        C = np.concatenate(c_parts)
        order = np.lexsort((P, D))
        D, C = D[order], C[order]
        udocs, starts = np.unique(D, return_index=True)
        counts = np.diff(np.append(starts, D.size))
        cand = np.flatnonzero(counts >= min_match)
        sim = sem_.lcs_lengths(C, starts[cand], counts[cand], q_codes) / m
        hit = sim >= node.threshold
        return self._apply_deletes(
            udocs[cand][hit].astype(np.int64),
            float(boost * node.boost) * sim[hit],
        )

    # -------------------------------------------------------------- eval

    def _servable(self, node: ast.Node) -> bool:
        if isinstance(node, (ast.Term, ast.Terms)):
            return True
        if isinstance(node, sem_.EXPANSION_LEAVES):
            return True
        if isinstance(node, (ast.Phrase, ast.SamePosition)):
            # variadic slots expand against the in-memory vocabulary
            return self._with_positions and all(
                isinstance(t, (str, ast.Terms) + sem_.EXPANSION_LEAVES)
                for t in node.terms
            )
        if isinstance(node, (ast.Not, ast.Should, ast.Cached)):
            return self._servable(node.child)
        if isinstance(node, (ast.And, ast.Or)):
            return all(self._servable(c) for c in node.children)
        if isinstance(
            node, (ast.AllDocs, ast.Empty, ast.Exists, ast.NumericRange)
        ):
            return True
        if isinstance(node, ast.GranularRange):
            # stored-column tier only; dictionary-only columns fall
            # back to the cluster's pruned num_terms scan
            return node.column in self.index.docs.columns
        if isinstance(node, ast.Nested):
            return node.parent_col in self.index.docs.columns and (
                self._servable(node.child)
            )
        if isinstance(node, ast.NgramSimilarity):
            return self._with_positions
        if isinstance(node, ast.Field):
            fh = self._field_hots
            return (
                fh is not None
                and node.field in fh
                and fh[node.field]._servable(node.child)
            )
        return False

    def search(self, query: ast.Node, k: int = 10, mode: str = "exhaustive"):
        """Top-k [(doc_id, score)], identical to the cluster engine's
        search() output. Falls back to the cluster path for query
        shapes the hot segment does not serve."""
        norm = planner.normalize(query)
        if not self._servable(norm):
            return [
                (r["doc_id"], r["score"])
                for r in self._cluster().search(query, k=k, mode=mode).collect()
            ]
        d, s = self.answer(norm, k, mode)
        return list(zip(d.tolist(), s.tolist()))

    def answer(
        self, norm, k: int | None, mode: str = "exhaustive", boost: float = 1.0
    ):
        """(doc_ids, scores) of a normalized servable query: every match
        when k is None, else the top k by (score desc, doc_id asc),
        block-max WAND-pruned when mode="wand" and the shape allows.
        `boost` is the boost a subtree inherits from its tree: a cluster
        shard answers a mixed tree's postings-only subtree this way, for
        every match (k None)."""
        if k is not None and mode == "wand":
            terms = self.sem.wand_terms(norm, self._expand_complete)
            if terms is not None:
                out = self._wand(norm, terms, k)
                if out is not None:
                    return out
        d, s = self._eval(norm, boost, None)
        if k is None:
            return d, s
        top = sem_.topk_order(d, s, k)
        return d[top], s[top]

    def _cluster(self):
        """The cluster engine a Spark-built replica falls back to; a
        from_dir replica has none."""
        if not hasattr(self.engine, "search"):
            raise RuntimeError(sem_.NO_CLUSTER)
        return self.engine

    def search_many(
        self, queries: dict, k: int = 10, mode: str = "exhaustive"
    ) -> dict:
        """Batched top-k: {name: [(doc_id, score), ...]} with each
        entry identical to search(). The cluster search_many exists to
        amortize the ~0.3 s/job floor across queries; here there is no
        job floor, so the batch is a plain loop — the shared state
        (decoded blocks, expansion cache, pinned columns) is the
        amortization, warmed across the batch automatically."""
        return {
            name: self.search(q, k=k, mode=mode)
            for name, q in queries.items()
        }

    def matches(self, query: ast.Node):
        """All matching (doc_id, score), unordered (cluster
        matches() analogue)."""
        norm = planner.normalize(query)
        if not self._servable(norm):
            return [
                (r["doc_id"], r["score"])
                for r in self._cluster().matches(query).collect()
            ]
        d, s = self.answer(norm, None)
        return list(zip(d.tolist(), s.tolist()))

    def top_docs(self, k: int = 10, query=None, columns=None):
        """First k live docs in index order (doc_id asc) — the hot
        analogue of SearchEngine.top_docs: on a sorted index doc-id
        order IS (sort_field, sort_key) order, so this is the
        early-termination "newest matching first" shape with zero
        Spark jobs. Returns a list of dicts. Columns default to
        ["doc_id"] here (the replica pins only the stored columns you
        ask for — one Arrow collect each, then cached); unservable
        query shapes fall back to the cluster path."""
        cols = list(columns) if columns else ["doc_id"]
        if query is not None:
            norm = planner.normalize(query)
            if not self._servable(norm):
                out_cols = cols if columns else None
                rows = self._cluster().top_docs(
                    k, query=query, columns=out_cols
                ).collect()
                return [
                    {c: r[c] for c in cols} if columns else r.asDict()
                    for r in rows
                ]
            ids, _ = self._eval(norm, 1.0, None)
            ids = np.unique(ids)
        else:
            ids = self._doc_spine()
        if self._deleted is not None and self._deleted.size and ids.size:
            pos = np.searchsorted(self._deleted, ids)
            pos = np.minimum(pos, self._deleted.size - 1)
            ids = ids[self._deleted[pos] != ids]
        head = ids[: int(k)]
        pinned = {
            c: self._doc_col(c) for c in cols if c != "doc_id"
        }
        out = []
        for d in head.tolist():
            row = {}
            for c in cols:
                if c == "doc_id":
                    row[c] = int(d)
                    continue
                cids, valid, vals = pinned[c]
                j = int(np.searchsorted(cids, d))
                if j >= cids.size or cids[j] != d or not valid[j]:
                    row[c] = None
                else:
                    v = vals[j]
                    row[c] = v.item() if isinstance(v, np.generic) else v
            out.append(row)
        return out

    def _live_occurrences(self, terms, doc_ids):
        """(term, aux blobs, owner_doc int64[], occ_sel bool[], freqs)
        per posting block of `terms` (term order) that keeps a live
        occurrence after the doc_ids and delete-mask filters — shared
        by highlight()/payloads(). occ_sel indexes the block's
        occurrence streams (freq-expanded posting order)."""
        keep = None
        if doc_ids is not None:
            keep = np.unique(np.asarray(list(doc_ids), dtype=np.int64))
        for term in sorted(set(terms)):
            for i, (_fd, ax) in enumerate(self._auxl(term)):
                d, f, _dl = self._decode_blocks(term, [i])
                owner = np.repeat(d, f)
                sel = np.ones(owner.size, bool)
                if keep is not None:
                    sel &= np.isin(owner, keep)
                if self._deleted is not None and self._deleted.size:
                    pos = np.searchsorted(self._deleted, owner)
                    pos = np.minimum(pos, self._deleted.size - 1)
                    sel &= self._deleted[pos] != owner
                if sel.any():
                    yield term, ax, owner, sel, f

    def highlight(self, terms, doc_ids=None):
        """In-memory SearchEngine.highlight(): character spans of the
        given (already-analyzed) terms as a list of
        (doc_id, term, start, length) tuples, one per occurrence,
        sorted by (term, doc_id, start) — same rows as the cluster
        DataFrame, zero Spark jobs. Requires with_offsets=True;
        `doc_ids` (iterable of ints, e.g. a top-k result) restricts
        the decode like the cluster API."""
        if not self._with_offsets:
            raise ValueError("index was built without offsets")
        out = []
        for term, ax, owner, sel, f in self._live_occurrences(terms, doc_ids):
            starts = codec.decode_position_lists(ax[0], f).astype(np.int64)
            lens = codec.varint_decode(ax[1]).astype(np.int64)
            for doc, s, ln in zip(
                owner[sel].tolist(),
                starts[sel].tolist(),
                lens[sel].tolist(),
            ):
                out.append((doc, term, s, ln))
        out.sort()
        return out

    def payloads(self, terms, doc_ids=None):
        """In-memory SearchEngine.payloads(): per-occurrence payload
        bytes as a list of (doc_id, term, occurrence, payload bytes)
        tuples, occurrence 1-based in position order, sorted by
        (term, doc_id, occurrence). Requires payload_delimiter at
        build time; `doc_ids` restricts like highlight()."""
        if not self._with_payloads:
            raise ValueError("index was built without payloads")
        pay_at = 2 if self._with_offsets else 0
        out = []
        for term, ax, owner, sel, f in self._live_occurrences(terms, doc_ids):
            lens = codec.varint_decode(ax[pay_at]).astype(np.int64)
            offs = np.concatenate(([0], np.cumsum(lens))).astype(np.int64)
            slab = ax[pay_at + 1]
            # occurrence index within its doc, 1-based
            row_start = np.concatenate(([0], np.cumsum(f))).astype(np.int64)
            occ = (
                np.arange(owner.size, dtype=np.int64)
                - np.repeat(row_start[:-1], f)
                + 1
            )
            for j in np.flatnonzero(sel).tolist():
                out.append(
                    (
                        int(owner[j]),
                        term,
                        int(occ[j]),
                        bytes(slab[offs[j]:offs[j + 1]]),
                    )
                )
        out.sort()
        return out

    def _apply_deletes(self, doc_ids, scores):
        if (
            self._deleted is None
            or self._deleted.size == 0
            or doc_ids.size == 0
        ):
            return doc_ids, scores
        pos = np.searchsorted(self._deleted, doc_ids)
        pos = np.minimum(pos, self._deleted.size - 1)
        live = self._deleted[pos] != doc_ids
        return doc_ids[live], scores[live]

    def _leaf_postings(self, node, boost, keep=None):
        """One scored Term/Terms leaf -> (doc_ids, scores)."""
        if isinstance(node, ast.Term):
            weights = {
                node.term: self.sem.c0(
                    self._df.get(node.term, 0), node.boost * boost
                )
            }
        else:  # Terms, sum-merge min_match<=1 (planner guarantees)
            weights = self.sem.terms_weights(
                node,
                {t: self._df.get(t, 0) for t in node.terms},
                boost * node.boost,
            )
        return self._score_terms(weights, weights, keep)

    def _eval(self, node, boost, keep):
        """(doc_ids, scores) for a normalized servable node."""
        if isinstance(node, (ast.Term, ast.Terms)):
            d, s = self._leaf_postings(node, boost, keep)
            return self._apply_deletes(d, s)
        if isinstance(node, sem_.EXPANSION_LEAVES):
            d, s = self._expansion_postings(node, boost, keep)
            return self._apply_deletes(d, s)
        if isinstance(node, (ast.Phrase, ast.SamePosition)):
            d, s = self._positional_postings(node, boost)
            return self._apply_deletes(d, s)
        if isinstance(node, ast.Empty):
            return np.empty(0, np.int64), np.empty(0, np.float64)
        if isinstance(node, ast.AllDocs):
            d = self._doc_spine()
            s = np.full(
                d.size, self.sem.const_score(node.boost * boost)
            )
            return self._apply_deletes(d, s)
        if isinstance(node, ast.Exists):
            cols = sem_.exists_columns(node, self.index.docs.columns)
            ids, mask, _ = self._doc_col(cols[0])
            for c in cols[1:]:
                mask = mask | self._doc_col(c)[1]
            d = ids[mask]
            s = np.full(
                d.size, self.sem.const_score(node.boost * boost)
            )
            return self._apply_deletes(d, s)
        if isinstance(node, (ast.NumericRange, ast.GranularRange)):
            d = self._numeric_range_docs(node)
            s = np.full(
                d.size, self.sem.const_score(node.boost * boost)
            )
            return self._apply_deletes(d, s)
        if isinstance(node, ast.Cached):
            key = node.child
            hit = self._proxy.get(key)
            if hit is None:
                hit = self._eval(node.child, 1.0, None)
                self._proxy[key] = hit
            d, s = hit
            b = float(node.boost * boost)
            return (d, s) if b == 1.0 else (d, s * b)
        if isinstance(node, ast.Nested):
            return self._eval_nested_hot(node, boost)
        if isinstance(node, ast.NgramSimilarity):
            return self._eval_ngram_sim_hot(node, boost)
        if isinstance(node, ast.Field):
            fh = self._field_hots or {}
            hot = fh.get(node.field)
            if hot is None:
                raise ValueError(
                    f"no indexed field {node.field!r} — query a "
                    "HotMultiFieldEngine over indexes built by "
                    "build_multi_field_index"
                )
            # field-local postings/stats; WAND keep never crosses
            # fields (the cluster equally has no cross-field wanderator)
            return hot._eval(node.child, boost * node.boost, None)
        if isinstance(node, (ast.And, ast.Or)):
            b = boost * node.boost
            positives, optional_idx, negatives, required = sem_.bool_parts(
                node
            )
            docs_l, score_l, req_l = [], [], []
            for i, c in enumerate(positives):
                d, s = self._eval(c, b, keep)
                docs_l.append(d)
                score_l.append(s)
                req_l.append(
                    np.full(d.size, 0 if i in optional_idx else 1, np.int64)
                )
            if not docs_l:
                e = np.empty(0, np.int64)
                return e, np.empty(0, np.float64)
            d = np.concatenate(docs_l)
            s = np.concatenate(score_l)
            r = np.concatenate(req_l)
            merge = node.merge_type
            ud, us, ur = sem_.merge_by_doc(d, s, r, merge, f32=self.sem.f32)
            m = ur >= required
            ud, us = ud[m], us[m]
            if merge == "noop":
                us = np.zeros_like(us)
            for neg in negatives:
                nd, _ = self._eval(neg, 1.0, None)
                if nd.size:
                    mask = ~np.isin(ud, nd)
                    ud, us = ud[mask], us[mask]
            return ud, us
        raise TypeError(f"unservable node {node!r}")  # pragma: no cover

    def _positional_postings(self, node, boost):
        """Phrase / SamePosition incl. VARIADIC slots: per doc, phrase
        freq = |intersection over slots of (union of the slot's
        candidate positions − offset_i)|, scored with the SUMMED per-slot c0,
        each slot's df being the SUM over its matched variants
        (phrase_query.cpp composes per-part scorers over the shared
        phrase frequency)."""
        slots = [
            sem_.slot_candidates(
                p,
                lambda ts: {t: self._df.get(t, 0) for t in ts},
                lambda q: self._hot_expansion(q)[0],
            )
            for p in node.terms
        ]
        offsets = sem_.slot_offsets(node)
        empty = (np.empty(0, np.int64), np.empty(0, np.float64))
        weight = self.sem.phrase_weight(slots, boost * node.boost)
        if weight is None:
            return empty  # a slot with no live terms
        clean, c0_sum = weight
        # (doc, position - offset) pairs: each slot's union over its
        # candidate terms, intersected slot by slot; a doc's phrase
        # freq is its count of surviving pairs
        pairs = None
        dl_docs, dl_vals = [], []
        for terms, off in zip(clean, offsets):
            docs_l, pos_l = [], []
            for t in terms:
                d_ids, dlc, pos, offs = self._decode_positions(t)
                docs_l.append(np.repeat(d_ids, np.diff(offs)))
                pos_l.append(pos - off)
                dl_docs.append(d_ids)
                dl_vals.append(dlc)
            slot = _sorted_pairs(np.concatenate(docs_l), np.concatenate(pos_l))
            pairs = slot if pairs is None else _common_pairs(pairs, slot)
            if pairs[0].size == 0:
                return empty
        docs, freqs = np.unique(pairs[0], return_counts=True)
        ud, first = np.unique(np.concatenate(dl_docs), return_index=True)
        dls = np.concatenate(dl_vals)[first[np.searchsorted(ud, docs)]]
        return docs, self._score(c0_sum, freqs, dls)

    # -------------------------------------------------------------- WAND

    def _wand(self, query, terms: dict[str, float], k: int):
        """In-memory block-max WAND: the semantics core's range-aligned
        BoundWalk over the cached per-block bounds, without any Spark
        job: the top-k (doc_ids, scores). Returns None when the seed
        cannot fill k (caller falls through to the exhaustive in-memory
        path; the stats then report every block kept, theta 0)."""
        weights = self.sem.wand_weights(query, terms, self._df)
        if not weights:
            return np.empty(0, np.int64), np.empty(0, np.float64)
        per_term = {}
        for t, c0 in weights.items():
            g, s0, s1 = self._term_bound_arrays(t)
            per_term[t] = (c0 * g, s0, s1)
        walk = sem_.BoundWalk(per_term)
        self.last_wand_stats = {
            "blocks_total": walk.n_blocks,
            "blocks_kept": walk.n_blocks,
            "theta": 0.0,
        }
        d, s = self._eval(query, 1.0, walk.seed(k))
        if d.size < k:
            return None  # seed can't fill k -> no theta -> no pruning
        theta = float(np.partition(s, s.size - k)[s.size - k])
        if theta <= 0.0:
            return None
        keep = walk.keep(self.sem.theta_eff(theta))
        self.last_wand_stats.update(
            blocks_kept=sum(int(v.size) for v in keep.values()), theta=theta
        )
        d, s = self._eval(query, 1.0, keep)
        top = sem_.topk_order(d, s, k)
        return d[top], s[top]


class _Replica:
    """A served replica: ONE state reference that every query reads
    once and runs on alone, and that refresh() swaps — under a lock, so
    concurrent refreshes re-pin at most once per commit — when the
    source directory's commit state moved."""

    def _init_replica(self, state) -> None:
        self._state = state
        self._lock = threading.Lock()
        self._source = None

    def __getattr__(self, name):
        # everything not defined on the replica (its query API, `engine`,
        # memory_stats, the caches) is the CURRENT state's
        state = self.__dict__.get("_state")
        if state is None or name.startswith("__"):
            raise AttributeError(name)
        return getattr(state, name)

    def _remember(self, path: str, kwargs: dict, fingerprint) -> None:
        self._source = {"path": path, "kwargs": kwargs, "fingerprint": fingerprint}

    def refresh(self) -> bool:
        """Reopen semantics for a `from_dir` replica (the reference's
        `directory_reader` reopen, core/index/directory_reader.hpp):
        re-check the source directory's commit state — the incremental
        manifest version for IncrementalIndexer dirs, the manifest
        file's (mtime, size) for batch saves and snapshot pointers —
        and rebuild the replica when it changed. Returns True when the
        replica was rebuilt, False when it was already current.

        Reopen granularity is the whole replica (a fresh pin, measured
        in seconds at ~1M posting blocks), not the reference's
        per-new-segment increment — the lazy columnar ingest makes a
        full re-pin cheap enough that segment-granular patching of the
        sorted in-memory arrays isn't worth its complexity. The swap
        is ONE assignment of the state reference: queries already
        running on another thread finish against the old state;
        queries issued after refresh() returns see the new commit."""
        src = self._source
        if src is None:
            raise ValueError(
                "refresh() requires a replica built with from_dir (a "
                "Spark-built replica re-pins by reconstructing from "
                "its engine)"
            )
        with self._lock:
            if self._fingerprint(src["path"]) == self._source["fingerprint"]:
                return False
            fresh = type(self).from_dir(src["path"], **src["kwargs"])
            self._state = fresh._state
            self._source = fresh._source
        return True


class HotEngine(_Replica):
    """In-driver replica of an index's postings for low-latency
    serving. Construct from a SearchEngine (one collect), or Spark-free
    with `from_dir`; query with `search(node, k, mode)` -> list of
    (doc_id, score), score desc, doc_id asc — the cluster path's exact
    output order. `search_many`, `matches`, `top_docs`, `highlight`,
    `payloads` and `memory_stats` are the pinned HotState's. `engine`
    is what the replica was pinned from: the SearchEngine, or for
    `from_dir` an embedded.LocalSource (a LocalIndex plus its
    Semantics, with no cluster behind it)."""

    _fingerprint = staticmethod(_dir_fingerprint)

    def __init__(self, engine, max_bytes: int = 1 << 30):
        self._init_replica(HotState.pin(engine, max_bytes))

    @classmethod
    def from_dir(
        cls,
        path: str,
        scorer: str | object = "bm25",
        score_dtype: str = "float64",
        scored_terms_limit: int = 1024,
        max_bytes: int = 1 << 30,
        encryption=None,
    ) -> "HotEngine":
        """Spark-free replica of a SAVED index: read the parquet layout
        with pyarrow (no SparkSession, no JVM) and serve it in-process
        — the reference's embedded `directory_reader` deployment shape
        (core/index/directory_reader.hpp). Results are identical to a
        Spark-built HotEngine (differential-tested); shapes the hot
        path cannot serve raise instead of falling back (there is no
        cluster here). A SEALED index decrypts in-process when
        `encryption=` carries the master keys (EmbeddedDecryption —
        pyarrow modular decryption, still no JVM)."""
        from iresearch_spark.search.embedded import (
            LocalSource,
            load_local_index,
        )

        # fingerprint BEFORE the (multi-second) pin: a commit landing
        # mid-load must make the next refresh() rebuild, not be stamped
        # as already-seen
        fp = _dir_fingerprint(path)
        eng = cls(
            LocalSource.open(
                load_local_index(path, encryption=encryption),
                scorer=scorer,
                score_dtype=score_dtype,
                scored_terms_limit=scored_terms_limit,
            ),
            max_bytes=max_bytes,
        )
        eng._remember(
            path,
            dict(
                scorer=scorer,
                score_dtype=score_dtype,
                scored_terms_limit=scored_terms_limit,
                max_bytes=max_bytes,
                encryption=encryption,
            ),
            fp,
        )
        return eng


@dataclasses.dataclass(frozen=True)
class _FieldStates:
    """A multifield replica's one pinned commit: the per-field states
    (each knowing the others, for Field subtrees) and the default."""

    engine: object
    hots: dict
    default: HotState


class HotMultiFieldEngine(_Replica):
    """Driver-resident MultiFieldEngine: one pinned HotState per
    field (each pinning its field's postings and keeping its own
    expansion cache), Field subtrees route to that field's state,
    and cross-field booleans compose in numpy over the shared
    deterministic doc-id space — exactly the cluster
    MultiFieldEngine's per-field BM25 + kSum/kMax/kMin merge
    (search/multifield.py). A single-Field root runs NATIVELY on that
    field's state, keeping its WAND path; unservable shapes fall
    back per HotEngine.search. All fields swap together on refresh()."""

    _fingerprint = staticmethod(_multifield_fingerprint)

    def __init__(self, engine, max_bytes: int = 1 << 30):
        hots = {
            f: HotState.pin(e, max_bytes=max_bytes)
            for f, e in engine.engines.items()
        }
        for h in hots.values():
            h._field_hots = hots
        self._init_replica(
            _FieldStates(engine, hots, hots[engine.index.default_field])
        )

    @classmethod
    def from_dir(
        cls,
        path: str,
        scorer: str | object = "bm25",
        score_dtype: str = "float64",
        scored_terms_limit: int = 1024,
        max_bytes: int = 1 << 30,
    ) -> "HotMultiFieldEngine":
        """Spark-free multifield replica of a SAVED multifield dir
        (field=<name>/ per-field indexes + multifield.json): one
        embedded state per field, same routing/compose semantics —
        see HotEngine.from_dir for the embedded-path boundaries. The
        refresh() fingerprint covers multifield.json plus every field's
        manifest, so a re-save of any field (or a field-set change)
        triggers one full re-pin swap."""
        from iresearch_spark.search.embedded import load_local_multifield

        fp = _multifield_fingerprint(path)  # BEFORE the pin (see HotEngine)
        eng = cls(
            load_local_multifield(path)(
                scorer=scorer,
                score_dtype=score_dtype,
                scored_terms_limit=scored_terms_limit,
            ),
            max_bytes=max_bytes,
        )
        eng._remember(
            path,
            dict(
                scorer=scorer,
                score_dtype=score_dtype,
                scored_terms_limit=scored_terms_limit,
                max_bytes=max_bytes,
            ),
            fp,
        )
        return eng

    def _route(self, query: ast.Node, state: _FieldStates | None = None):
        st = state or self._state
        return sem_.route_field(query, st.hots, st.default)

    def search(self, query: ast.Node, k: int = 10, mode: str = "exhaustive"):
        hot, q = self._route(query)
        return hot.search(q, k=k, mode=mode)

    def matches(self, query: ast.Node):
        hot, q = self._route(query)
        return hot.matches(q)

    def search_many(
        self, queries: dict, k: int = 10, mode: str = "exhaustive"
    ) -> dict:
        """Batched top-k over routed fields, all against one commit:
        the warmth of the shared per-field caches is the batching."""
        st = self._state
        out = {}
        for name, q in queries.items():
            hot, qq = self._route(q, st)
            out[name] = hot.search(qq, k=k, mode=mode)
        return out

    def memory_stats(self) -> dict:
        """Per-field residency plus fleet totals (see
        HotState.memory_stats) — the budget applies per field replica,
        so `budget_bytes` here is the per-field budget, not a sum."""
        per_field = {f: h.memory_stats() for f, h in self._state.hots.items()}
        total = {
            k: sum(s[k] for s in per_field.values())
            for k in next(iter(per_field.values()))
            if k != "budget_bytes"
        }
        total["budget_bytes"] = next(
            iter(per_field.values())
        )["budget_bytes"]
        total["fields"] = per_field
        return total


# ------------------------------------------------------ cluster shards


class WandStats:
    """Accumulator param of a cluster query's WAND counters
    (blocks_total, blocks_kept, theta): blocks sum over shards, theta
    is the largest shard threshold."""

    def zero(self, value):
        return (0, 0, 0.0)

    def addInPlace(self, a, b):
        return (a[0] + b[0], a[1] + b[1], max(a[2], b[2]))


@dataclasses.dataclass(frozen=True)
class ShardPlan:
    """A compiled cluster query batch: everything a doc-range shard
    needs besides its posting blocks. `queries` maps names to
    normalized postings-only trees and `boosts` names to the boost a
    query inherits (1.0 when absent); `dfs`, `expansions` and `deleted`
    are the driver's GLOBAL df per touched term, multiterm expansions
    ({node: (expansion, complete)}) and sorted deleted doc ids. Shard s
    covers doc ids [base + s * width, base + (s + 1) * width), the first
    and last shard open-ended. `stats` is a WandStats accumulator or
    None."""

    sem: object
    queries: dict
    boosts: dict
    k: int | None
    mode: str
    dfs: dict
    expansions: dict
    deleted: np.ndarray | None
    n_shards: int = 1
    base: int = 0
    width: int = 0
    stats: object = None

    def state(self, tbl, shard: int) -> HotState:
        """The HotState of shard `shard` over its block table."""
        rng = None
        if self.n_shards > 1:
            lo = self.base + shard * self.width
            hi = lo + self.width
            if shard == 0:
                lo = np.iinfo(np.int64).min
            if shard == self.n_shards - 1:
                hi = np.iinfo(np.int64).max
            rng = (lo, hi)
        return HotState(
            self.sem,
            tbl,
            deleted=self.deleted,
            dfs=self.dfs,
            expansions=self.expansions,
            doc_range=rng,
        )


def shard_kernel(plan: ShardPlan):
    """The mapInArrow function of a ShardPlan. A task holds the posting
    blocks of one shard (the `_shard` column names it when there are
    several) and answers every query on that shard's HotState — its
    exact top k, or every match when k is None — as (query, doc_id,
    score) rows."""

    def run(batches):
        import pyarrow as pa

        batches = list(batches)
        if not batches:
            return
        tbl = pa.Table.from_batches(batches)
        shard = tbl.column("_shard")[0].as_py() if plan.n_shards > 1 else 0
        st = plan.state(tbl, shard)
        names, docs, scores = [], [], []
        for name, node in plan.queries.items():
            st.last_wand_stats = None
            d, s = st.answer(node, plan.k, plan.mode, plan.boosts.get(name, 1.0))
            names.append(name)
            docs.append(d)
            scores.append(s)
            w = st.last_wand_stats
            if plan.stats is not None and w:
                plan.stats.add((w["blocks_total"], w["blocks_kept"], w["theta"]))
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(
                    np.repeat(np.asarray(names, object), [d.size for d in docs]),
                    pa.string(),
                ),
                pa.array(np.concatenate(docs), pa.int64()),
                pa.array(np.concatenate(scores), pa.float64()),
            ],
            names=["query", "doc_id", "score"],
        )

    return run
