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
floor the pruning shows up directly as wall-clock (the cluster path's
two extra driver-synchronized jobs cost more than the decode they
save below ~10M postings/query; this path has no such overhead).

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

from collections import defaultdict

import numpy as np

from iresearch_spark.index import codec
from iresearch_spark.search import ast, planner
from iresearch_spark.search import semantics as sem_


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


class HotEngine:
    """In-driver replica of an index's postings for low-latency
    serving. Construct from a SearchEngine (one collect), or Spark-free
    with `from_dir`; query with `search(node, k, mode)` -> list of
    (doc_id, score), score desc, doc_id asc — the cluster path's exact
    output order. `engine` is what the replica was pinned from: the
    SearchEngine, or for `from_dir` an embedded.LocalSource (a
    LocalIndex plus its Semantics, with no cluster behind it)."""

    def __init__(self, engine, max_bytes: int = 1 << 30):
        self.engine = engine
        self.index = index = engine.index
        self.sem = engine.sem
        self._kernel = self.sem.kernel
        self._max_bytes = max_bytes
        cols = [
            "term", "n_docs", "first_doc", "last_doc",
            "docs", "dls", "block_impacts", "block_max_freq",
            "block_min_dl",
        ]
        self._with_positions = bool(index.with_positions)
        if self._with_positions:
            cols.append("positions")
        self._with_offsets = bool(getattr(index, "with_offsets", False))
        self._with_payloads = bool(getattr(index, "with_payloads", False))
        aux_cols = []
        if self._with_offsets:
            aux_cols += ["off_starts", "off_lens"]
        if self._with_payloads:
            aux_cols += ["pay_lens", "pay_bytes"]
        cols += aux_cols

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
        self._blob_bytes = int(size or 0)
        self._ingest(tbl, cols, aux_cols, index)

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
        eng._source = {
            "path": path,
            "kwargs": dict(
                scorer=scorer,
                score_dtype=score_dtype,
                scored_terms_limit=scored_terms_limit,
                max_bytes=max_bytes,
                encryption=encryption,
            ),
            "fingerprint": fp,
        }
        return eng

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
        is ONE rebinding of the instance attribute dict (atomic under
        the GIL): queries already running on another thread finish
        against the old arrays; queries issued after refresh()
        returns see the new commit."""
        src = getattr(self, "_source", None)
        if src is None:
            raise ValueError(
                "refresh() requires a replica built with from_dir (a "
                "Spark-built HotEngine re-pins by reconstructing from "
                "its SearchEngine)"
            )
        fp = _dir_fingerprint(src["path"])
        if fp == src["fingerprint"]:
            return False
        fresh = type(self).from_dir(src["path"], **src["kwargs"])
        # single assignment = atomic swap; never clear-then-update,
        # which would expose an empty dict to concurrent readers
        self.__dict__ = dict(fresh.__dict__)
        return True

    def _ingest(self, tbl, cols, aux_cols, index):
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
        # ~100s of MB of object overhead at 1M blocks); _bl() converts
        # per TERM on first touch, so only queried terms ever pay
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
        # contiguous per-term row spans of the sorted columns; _bl()
        # materializes a term's block-tuple list from its span on first
        # touch (the per-term analogue of the lazy block decode cache)
        self._spans: dict[str, tuple] = {}
        self._blocks: dict[str, list] = {}
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
        self._decoded: dict[str, list] = {}
        self._run_init_tail(index)

    def _bl(self, term: str) -> list:
        """The term's block-tuple list
        (first, last, n, docs_blob, dls_blob, (tf[], dl[])|None,
        max_freq, min_dl, pos_blob|None), first_doc-ordered —
        materialized from the column arrays' row span on first touch
        and cached (only queried terms ever build python tuples)."""
        hit = self._blocks.get(term)
        if hit is not None:
            return hit
        span = self._spans.get(term)
        if span is None:
            return []
        s, e = span
        if self._imp_a is None:
            imp = [None] * (e - s)
        else:
            tfv, dlv, offs, ok = self._imp_a
            imp = [
                (tfv[offs[i]:offs[i + 1]], dlv[offs[i]:offs[i + 1]])
                if ok[i]
                else None
                for i in range(s, e)
            ]
        pos = (
            self._bin_pos[s:e].to_pylist()
            if self._bin_pos is not None
            else [None] * (e - s)
        )
        out = list(
            zip(
                self._fd_a[s:e].tolist(),
                self._ld_a[s:e].tolist(),
                self._nd_a[s:e].tolist(),
                self._bin_docs[s:e].to_pylist(),
                self._bin_dls[s:e].to_pylist(),
                imp,
                self._mf_a[s:e].tolist(),
                self._md_a[s:e].tolist(),
                pos,
            )
        )
        self._blocks[term] = out
        return out

    def _auxl(self, term: str) -> list:
        """The term's (first_doc, (aux blobs...)) list (OFFS/PAY
        occurrence features), block-aligned with _bl(term) — same lazy
        per-term materialization."""
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

    def _run_init_tail(self, index):
        self._decoded_pos: dict[str, tuple] = {}
        self._bounds: dict[str, tuple] = {}
        self._vocab: tuple | None = None
        self._expansion: dict = {}
        self._cols: dict[str, tuple] = {}
        self._spine: np.ndarray | None = None
        self._proxy: dict = {}
        self._field_hots: dict[str, "HotEngine"] | None = None
        self.last_wand_stats: dict | None = None
        self._deleted: np.ndarray | None = None
        if index.deleted is not None:
            self._deleted = np.sort(
                np.asarray(
                    [
                        r["doc_id"]
                        for r in index.deleted.select("doc_id").collect()
                    ],
                    dtype=np.int64,
                )
            )

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
            sum(_arr_bytes(a) for a in self._vocab) if self._vocab else 0
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

    def _decode_blocks(self, term: str, idxs=None):
        """Decode (and cache) the term's posting blocks — PER BLOCK, so
        a WAND-pruned read only ever decodes surviving blocks. idxs:
        iterable of block indices (None = all). Returns concatenated
        (doc_ids, freqs, dls)."""
        bl = self._bl(term)
        slots = self._decoded.get(term)
        if slots is None:
            slots = [None] * len(bl)
            self._decoded[term] = slots
        want = range(len(bl)) if idxs is None else sorted(idxs)
        parts = []
        for i in want:
            if i >= len(bl):
                continue
            hit = slots[i]
            if hit is None:
                first, last, n, docs_b, dls_b, _imp, _mf, _md, _pb = bl[i]
                d, f = codec.unpack_docs_freqs(docs_b, n, base=0)
                hit = (
                    d.astype(np.int64),
                    f.astype(np.int64),
                    codec.varint_decode(dls_b).astype(np.int64),
                )
                slots[i] = hit
            parts.append(hit)
        if not parts:
            e = np.empty(0, np.int64)
            return e, e.copy(), e.copy()
        if len(parts) == 1:
            return parts[0]
        return (
            np.concatenate([p[0] for p in parts]),
            np.concatenate([p[1] for p in parts]),
            np.concatenate([p[2] for p in parts]),
        )

    def _decode_positions(self, term: str):
        """Concatenated (doc_ids, dls, pos_values, pos_offsets) for ALL
        of a term's postings — pos_offsets[i]:pos_offsets[i+1] slices
        the i-th posting's ascending positions. Cached per term."""
        hit = self._decoded_pos.get(term)
        if hit is not None:
            return hit
        bl = self._bl(term)
        d_parts, l_parts, p_parts, f_parts = [], [], [], []
        for first, last, n, docs_b, dls_b, _i, _mf, _md, pos_b in bl:
            if pos_b is None:
                raise ValueError("index was built without positions")
            d, f = codec.unpack_docs_freqs(docs_b, n, base=0)
            f = f.astype(np.int64)
            d_parts.append(d.astype(np.int64))
            f_parts.append(f)
            l_parts.append(codec.varint_decode(dls_b).astype(np.int64))
            p_parts.append(
                codec.decode_position_lists(pos_b, f).astype(np.int64)
            )
        if d_parts:
            doc_ids = np.concatenate(d_parts)
            dls = np.concatenate(l_parts)
            freqs = np.concatenate(f_parts)
            pos = np.concatenate(p_parts)
        else:
            doc_ids = np.empty(0, np.int64)
            dls = doc_ids.copy()
            freqs = doc_ids.copy()
            pos = doc_ids.copy()
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

    def _vocab_arrays(self):
        """Sorted in-memory term dictionary (terms object[], df int64[])
        — Python str comparison == Spark's UTF8String order (UTF-8 byte
        order preserves code-point order), so slices match the cluster
        term intervals exactly."""
        if self._vocab is None:
            terms = sorted(self._df)
            self._vocab = (
                np.asarray(terms, dtype=object),
                np.asarray([self._df[t] for t in terms], dtype=np.int64),
            )
        return self._vocab

    def _vocab_slice(self, lo, hi, include_min: bool, include_max: bool):
        terms, dfs = self._vocab_arrays()
        i = (
            0
            if lo is None
            else int(
                np.searchsorted(terms, lo, "left" if include_min else "right")
            )
        )
        j = (
            terms.size
            if hi is None
            else int(
                np.searchsorted(terms, hi, "right" if include_max else "left")
            )
        )
        return terms[i:j], dfs[i:j]

    def _hot_expansion(self, node):
        """([(term, df)] expansion, [matched terms], complete) for a
        multiterm leaf, computed against the in-memory vocabulary under
        the semantics core's caps and order — output-identical to the
        cluster's _leaf_expansion (pinned by parity tests) — and cached
        per node in this replica."""
        hit = self._expansion.get(node)
        if hit is not None:
            return hit
        if isinstance(node, ast.Prefix):
            t, d = self._vocab_slice(
                node.prefix, sem_.prefix_successor(node.prefix), True, False
            )
            matched, mdf = t.tolist(), d.tolist()
        elif isinstance(node, ast.Wildcard):
            import re

            rx = re.compile(sem_.like_to_regex(node.pattern))
            terms, dfs = self._vocab_arrays()
            matched, mdf = [], []
            for t, d in zip(terms.tolist(), dfs.tolist()):
                if rx.match(t):
                    matched.append(t)
                    mdf.append(d)
        elif isinstance(node, ast.Range):
            t, d = self._vocab_slice(
                node.min_term,
                node.max_term,
                node.include_min,
                node.include_max,
            )
            matched, mdf = t.tolist(), d.tolist()
        elif isinstance(node, ast.Fuzzy):
            expanded = self._fuzzy_expansion(node)
            out = (expanded, [t for t, _ in expanded], True)
            self._expansion[node] = out
            return out
        else:  # pragma: no cover
            raise TypeError(f"not an expansion leaf: {node}")
        expanded, complete = sem_.capped(
            list(zip(matched, mdf)), self.sem.expansion_limit(node)
        )
        out = (expanded, matched, complete)
        self._expansion[node] = out
        return out

    def _expand_complete(self, node):
        """(expansion, complete) — the callback semantics.wand_terms
        reads."""
        expanded, _matched, complete = self._hot_expansion(node)
        return expanded, complete

    def _fuzzy_expansion(self, node: ast.Fuzzy):
        """The cluster's _fuzzy_candidates against the in-memory
        vocabulary: exact-prefix pinning, the length band, the distance
        kernels and the FUZZY_ORDER max_terms cap, all from the
        semantics core."""
        if node.prefix:
            t, d = self._vocab_slice(
                node.prefix, sem_.prefix_successor(node.prefix), True, False
            )
        else:
            t, d = self._vocab_arrays()
        if t.size == 0:
            return []
        lens = np.fromiter((len(x) for x in t), np.int64, count=t.size)
        lo, hi = sem_.fuzzy_band(node)
        band = (lens >= lo) & (lens <= hi)
        t, d = t[band], d[band]
        if t.size == 0:
            return []
        dist = sem_.fuzzy_distances(node, t)
        m = dist <= node.distance
        cand = sem_.rank(
            list(zip(t[m].tolist(), d[m].tolist(), dist[m].tolist())),
            sem_.FUZZY_ORDER,
            node.max_terms,
        )
        return [(term, df) for term, df, _ in cand]

    def _expansion_postings(self, node, boost, keep=None):
        """Scored multiterm leaf -> (doc_ids, scores): the cluster's
        predicate-scan semantics — EVERY matched term's docs are rows
        (capped expansions leave beyond-cap terms matched at weight
        0.0, executor._make_fused_scorer's weights.get(t, 0.0)), scored
        terms carry c0(df, eff_boost)."""
        expanded, matched, _complete = self._hot_expansion(node)
        eff = boost * node.boost
        w = {t: self.sem.c0(df, eff) for t, df in expanded}
        return self._score_terms(w, matched, keep)

    def _score_terms(self, weights: dict, terms, keep):
        """(doc_ids, scores) of a leaf over `terms`: each term's postings
        scored with its c0 (absent = 0.0, matched but unscored), a doc's
        per-term scores summed in term order (the leaf-sum rule every
        tier shares). keep: optional per-term block indices to decode
        (WAND survivors)."""
        parts = []
        for term in sorted(terms):
            if self._df.get(term, 0) == 0:
                continue
            sel = keep.get(term) if keep is not None else None
            if keep is not None and sel is None:
                continue  # WAND kept no blocks of this term
            d, f, l = self._decode_blocks(term, sel)
            if d.size == 0:
                continue
            # np.float64 scalar: the f32 kernel calls .astype on c0
            s = self._kernel(np.float64(weights.get(term, 0.0)), f, l)
            parts.append((d, np.asarray(s, dtype=np.float64)))
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
        order = np.argsort(par, kind="stable")
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
            us = np.add.reduceat(cs, starts)
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
        """by_ngram_similarity in-memory — the cluster
        _eval_ngram_similarity semantics: candidate docs hold >=
        ceil(threshold*m) occurrences of the query's (present) ngrams;
        per candidate, LCS of (query ngram sequence, doc's
        position-ordered ngram stream); similarity = LCS/m, match iff
        >= threshold, score = boost * similarity (plain f64 multiply,
        exactly the cluster's lit(boost) * _sim — never rounded
        through Semantics.const_score)."""
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
        if mode == "wand":
            terms = self.sem.wand_terms(norm, self._expand_complete)
            if terms is not None:
                out = self._wand(norm, terms, k)
                if out is not None:
                    return out
        doc_ids, scores = self._eval(norm, 1.0, None)
        return sem_.topk(doc_ids, scores, k)

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
        doc_ids, scores = self._eval(norm, 1.0, None)
        return list(zip(doc_ids.tolist(), scores.tolist()))

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
        """(doc_ids, scores) for a normalized servable node — the
        executor's _eval/_eval_bool semantics in numpy."""
        if isinstance(node, (ast.Term, ast.Terms)):
            d, s = self._leaf_postings(node, boost, keep)
            return self._apply_deletes(d, s)
        if isinstance(node, sem_.EXPANSION_LEAVES):
            d, s = self._expansion_postings(node, boost, keep)
            return self._apply_deletes(d, s)
        if isinstance(node, (ast.Phrase, ast.SamePosition)):
            d, s = self._eval_positional(node, boost)
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

    def _eval_positional(self, node, boost):
        """Phrase / SamePosition incl. VARIADIC slots — the cluster
        _eval_positional semantics in numpy: per doc, phrase freq =
        |intersection over slots of (union of the slot's candidate
        positions − offset_i)|, scored with the SUMMED per-slot c0,
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
        # per-slot decoded postings + per-slot doc universe (union over
        # the slot's candidate terms)
        per_slot: list[list[tuple]] = []
        common = None
        for terms in clean:
            datas = [self._decode_positions(t) for t in terms]
            docs = datas[0][0]
            for dd in datas[1:]:
                docs = np.union1d(docs, dd[0])
            per_slot.append(datas)
            common = (
                docs
                if common is None
                else np.intersect1d(common, docs, assume_unique=True)
            )
        if common is None or common.size == 0:
            return empty
        freqs = np.empty(common.size, np.int64)
        dls = np.empty(common.size, np.int64)
        for j in range(common.size):
            doc = common[j]
            inter = None
            dl = -1
            for datas, off in zip(per_slot, offsets):
                pos_u = None
                for d_ids, dlc, pos, offs in datas:
                    i = int(np.searchsorted(d_ids, doc))
                    if i >= d_ids.size or d_ids[i] != doc:
                        continue
                    p = pos[offs[i] : offs[i + 1]] - off
                    pos_u = p if pos_u is None else np.union1d(pos_u, p)
                    if dl < 0:
                        dl = int(dlc[i])
                inter = (
                    pos_u
                    if inter is None
                    else np.intersect1d(inter, pos_u, assume_unique=True)
                )
                if inter.size == 0:
                    break
            freqs[j] = 0 if inter is None else inter.size
            dls[j] = dl
        m = freqs > 0
        if not m.any():
            return empty
        s = self._kernel(np.float64(c0_sum), freqs[m], dls[m])
        return common[m], np.asarray(s, dtype=np.float64)

    # -------------------------------------------------------------- WAND

    def _wand(self, query, terms: dict[str, float], k: int):
        """In-memory block-max WAND: the semantics core's range-aligned
        BoundWalk over the cached per-block bounds, without any Spark
        job. Returns None when the seed cannot fill k (caller falls
        through to the exhaustive in-memory path)."""
        weights = self.sem.wand_weights(query, terms, self._df)
        if not weights:
            return []
        per_term = {}
        for t, c0 in weights.items():
            g, s0, s1 = self._term_bound_arrays(t)
            per_term[t] = (c0 * g, s0, s1)
        walk = sem_.BoundWalk(per_term)
        d, s = self._eval(query, 1.0, walk.seed(k))
        if d.size < k:
            return None  # seed can't fill k -> no theta -> no pruning
        theta = float(np.partition(s, s.size - k)[s.size - k])
        if theta <= 0.0:
            return None
        keep = walk.keep(self.sem.theta_eff(theta))
        self.last_wand_stats = {
            "blocks_total": walk.n_blocks,
            "blocks_kept": sum(int(v.size) for v in keep.values()),
            "theta": theta,
        }
        d, s = self._eval(query, 1.0, keep)
        return sem_.topk(d, s, k)


class HotMultiFieldEngine:
    """Driver-resident MultiFieldEngine: one HotEngine replica per
    field (each pinning its field's postings and keeping its own
    expansion cache), Field subtrees route to that field's replica,
    and cross-field booleans compose in numpy over the shared
    deterministic doc-id space — exactly the cluster
    MultiFieldEngine's per-field BM25 + kSum/kMax/kMin merge
    (search/multifield.py). A single-Field root runs NATIVELY on that
    field's hot engine, keeping its WAND path; unservable shapes fall
    back per HotEngine.search."""

    def __init__(self, engine, max_bytes: int = 1 << 30):
        self.engine = engine
        self.hots = {
            f: HotEngine(e, max_bytes=max_bytes)
            for f, e in engine.engines.items()
        }
        for h in self.hots.values():
            h._field_hots = self.hots
        self.default = self.hots[engine.index.default_field]

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
        embedded HotEngine per field, same routing/compose semantics —
        see HotEngine.from_dir for the embedded-path boundaries."""
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
        eng._source = {
            "path": path,
            "kwargs": dict(
                scorer=scorer,
                score_dtype=score_dtype,
                scored_terms_limit=scored_terms_limit,
                max_bytes=max_bytes,
            ),
            "fingerprint": fp,
        }
        return eng

    def refresh(self) -> bool:
        """Reopen semantics over a from_dir multifield replica: the
        fingerprint covers multifield.json plus every field's manifest,
        so a re-save of any field (or a field-set change) triggers one
        full re-pin swap. See HotEngine.refresh for the semantics."""
        src = getattr(self, "_source", None)
        if src is None:
            raise ValueError(
                "refresh() requires a replica built with from_dir"
            )
        fp = _multifield_fingerprint(src["path"])
        if fp == src["fingerprint"]:
            return False
        fresh = type(self).from_dir(src["path"], **src["kwargs"])
        # single assignment = atomic swap; never clear-then-update,
        # which would expose an empty dict to concurrent readers
        self.__dict__ = dict(fresh.__dict__)
        return True

    def _route(self, query: ast.Node):
        return sem_.route_field(query, self.hots, self.default)

    def search(self, query: ast.Node, k: int = 10, mode: str = "exhaustive"):
        hot, q = self._route(query)
        return hot.search(q, k=k, mode=mode)

    def matches(self, query: ast.Node):
        hot, q = self._route(query)
        return hot.matches(q)

    # batched top-k over routed fields: the warmth of the shared
    # per-field caches is the batching
    search_many = HotEngine.search_many

    def memory_stats(self) -> dict:
        """Per-field residency plus fleet totals (see
        HotEngine.memory_stats) — the budget applies per field replica,
        so `budget_bytes` here is the per-field budget, not a sum."""
        per_field = {f: h.memory_stats() for f, h in self.hots.items()}
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
