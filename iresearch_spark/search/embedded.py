"""Spark-free embedded serving: load a SAVED index directory with
pyarrow alone and serve it through the hot path — no SparkSession, no
JVM, no cluster.

The reference is an embeddable LIBRARY: a process links it, opens a
segment directory with `irs::directory_reader` (mmapped files,
core/index/directory_reader.hpp) and answers queries in-process. The
cluster `SearchEngine` is the right analogue at 10^12 docs, and
`HotEngine` removes the per-query job floor — but it still needed a
live SparkSession to collect the posting blobs. This module closes the
last gap: `HotEngine.from_dir(path)` (and
`HotMultiFieldEngine.from_dir`) reads the index tables straight from
the saved parquet layout with `pyarrow.dataset` and builds the same
driver-resident replica, so a serving host needs only Python + pyarrow
+ numpy — `python jobs/search_job.py --embedded ...` serves without
spark-submit at all.

Identity: the replica is built from the SAME parquet bytes the Spark
collect would read, and it is a `LocalSource` — the LocalIndex plus a
`Semantics` object (search/semantics.py: scoring, expansion, WAND and
merge rules) bound to the manifest's field stats, the same rules the
cluster engine holds — so results are identical to the Spark-built
HotEngine, which is differential-tested against the cluster engine
(tests/test_round5_embedded.py pins from_dir == Spark-built hot ==
cluster for every query shape, both score dtypes, WAND included).

Boundaries (all raise with a clear message, nothing silently degrades):
- a SEALED index serves embedded when `encryption=` carries the master
  keys (EmbeddedDecryption: python twin of the JVM ConfKmsClient over
  pyarrow modular decryption) — but one sealed with
  external_key_material=True (rotation sidecars) stays on the cluster
  path (pyarrow's python binding cannot locate sidecar key material);
- incremental (multi-segment) dirs serve embedded through
  `LocalMergedIndex` (doc-id-disjoint segment tables concatenated —
  the DirectoryReader-over-SubReaders analogue) with the same
  config-homogeneity contract the cluster merge enforces;
  `HotEngine.refresh()` gives reopen semantics over them;
- the few shapes the hot path itself does not serve (GranularRange on
  a dictionary-only column) have no cluster to fall back to here: a
  LocalSource has no cluster entry points, so HotEngine raises the
  "no cluster path" RuntimeError.
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass
from types import SimpleNamespace

from iresearch_spark.index.model import (
    FieldStats,
    InvertedIndex,
    check_segments_agree,
)
from iresearch_spark.search.semantics import Semantics

_BLOB_COLS = ("docs", "dls")


def _parquet_files(path: str | list[str]) -> list[str]:
    """All data files of one saved table dir (Spark writes _SUCCESS
    markers next to them; a postings dir nests `_tb=N/` hive subdirs —
    recursive glob covers both layouts). A LIST of dirs concatenates
    their files in dir order (the multi-segment merged view)."""
    paths = [path] if isinstance(path, str) else list(path)
    files: list[str] = []
    for p in paths:
        files.extend(sorted(
            glob.glob(os.path.join(glob.escape(p), "**", "*.parquet"),
                      recursive=True)
        ))
    if not files:
        raise FileNotFoundError(f"no parquet files under {path}")
    return files


class EmbeddedDecryption:
    """Python-side decryption of a SEALED index (Parquet Modular
    Encryption) for the embedded path — the pyarrow twin of the JVM
    `ConfKmsClient` (jars/src/.../ConfKmsClient.java): pyarrow's C++
    key tools parse the parquet-mr key-material format (double
    wrapping, PKMT1) natively, so the only custom piece is the
    master-key unwrap, whose `irv:<version>:<base64 AES-GCM(nonce||
    ct||tag)>` local-wrap format is replicated here with the
    `cryptography` AESGCM primitive. Construct from the SAME
    `IndexEncryption` object (or key file) the cluster jobs use."""

    def __init__(self, encryption):
        import pyarrow.parquet.encryption as pe

        self._pe = pe
        master = {
            n: (dict(v) if isinstance(v, dict) else {1: v})
            for n, v in encryption.master_keys.items()
        }

        class _PyConfKms(pe.KmsClient):
            def __init__(self, kms_connection_config):
                pe.KmsClient.__init__(self)

            def wrap_key(self, key_bytes, master_key_identifier):
                import os as _os

                vs = master[master_key_identifier]
                ver = max(vs)
                nonce = _os.urandom(12)
                ct = _aesgcm(vs[ver]).encrypt(nonce, bytes(key_bytes), None)
                import base64 as _b64

                return f"irv:{ver}:" + _b64.b64encode(nonce + ct).decode()

            def unwrap_key(self, wrapped_key, master_key_identifier):
                import base64 as _b64

                vs = master.get(master_key_identifier)
                if vs is None:
                    raise ValueError(
                        f"unknown master key: {master_key_identifier}"
                    )
                wk = wrapped_key
                if wk.startswith("irv:"):
                    vstr, _, rest = wk[4:].partition(":")
                    key = vs.get(int(vstr))
                    if key is None:
                        raise ValueError(
                            f"master key {master_key_identifier} version "
                            f"{vstr} not held (rotated? add the old "
                            "version)"
                        )
                    data = _b64.b64decode(rest)
                    return _aesgcm(key).decrypt(data[:12], data[12:], None)
                # pre-versioning wrap: try newest..oldest
                data = _b64.b64decode(wk)
                err = None
                for _, key in sorted(vs.items(), reverse=True):
                    try:
                        return _aesgcm(key).decrypt(
                            data[:12], data[12:], None
                        )
                    except Exception as e:  # wrong version: tag fails
                        err = e
                raise err

        self._factory = pe.CryptoFactory(_PyConfKms)
        self._conn = pe.KmsConnectionConfig()
        self._client_cls = _PyConfKms  # direct wrap/unwrap testability

    def file_props(self):
        """Fresh FileDecryptionProperties for a footer/metadata read."""
        return self._factory.file_decryption_properties(
            self._conn, self._pe.DecryptionConfiguration()
        )



def _aesgcm(key: bytes):
    from cryptography.hazmat.primitives.ciphers.aead import AESGCM

    return AESGCM(key)


class LocalTable:
    """pyarrow-backed stand-in for the slim DataFrame surface the hot
    path reads (`.columns`, `.select(...).toArrow()`, `.collect()`):
    column-projected scans of one saved table dir, no Spark."""

    def __init__(
        self,
        path: str,
        columns: list[str] | None = None,
        decryption: EmbeddedDecryption | None = None,
    ):
        self._path = path
        self._cols = columns
        self._dec = decryption

    @property
    def columns(self) -> list[str]:
        import pyarrow.parquet as pq

        if self._cols is not None:
            return list(self._cols)
        f = _parquet_files(self._path)[0]
        if self._dec is not None:
            return list(
                pq.ParquetFile(
                    f, decryption_properties=self._dec.file_props()
                ).schema_arrow.names
            )
        return list(pq.read_schema(f).names)

    def select(self, *cols) -> "LocalTable":
        return LocalTable(self._path, [c for c in cols], self._dec)

    def toArrow(self):
        import pyarrow.dataset as ds

        files = _parquet_files(self._path)
        if self._dec is not None:
            # encrypted path reads per file through ParquetFile: the
            # dataset scanner does not finalize modular decryption of
            # these files, and pyarrow's GCM module decryptor races
            # under threaded multi-column reads (intermittent "Failed
            # decryption finalization") — single-threaded decode is
            # deterministic and only affects replica PIN time
            import pyarrow as pa
            import pyarrow.parquet as pq

            return pa.concat_tables(
                pq.ParquetFile(
                    f, decryption_properties=self._dec.file_props()
                ).read(columns=self._cols, use_threads=False)
                for f in files
            )
        return ds.dataset(files, format="parquet").to_table(
            columns=self._cols
        )

    def collect(self) -> list[dict]:
        return self.toArrow().to_pylist()


class LocalIndex:
    """Manifest-backed facade with exactly the InvertedIndex attributes
    the hot path touches; postings come through `postings_arrow` (one
    projected pyarrow scan) instead of a Spark collect."""

    def __init__(
        self,
        path: str,
        manifest: dict,
        decryption: EmbeddedDecryption | None = None,
    ):
        self.path = path
        self.manifest = manifest
        self._dec = decryption
        self.manifest_version = None  # set by the incremental loader
        self.field_stats = FieldStats(
            n_docs=manifest["n_docs"],
            total_term_freq=manifest["total_term_freq"],
            max_dl=manifest.get("max_dl"),
        )
        self.norm = manifest.get("norm", "norm2")
        self.with_positions = manifest["with_positions"]
        self.with_offsets = manifest.get("with_offsets", False)
        self.with_payloads = manifest.get("with_payloads", False)
        self.analyzer_name = manifest.get("analyzer")
        self.numeric_meta = manifest.get("numeric_meta")
        self.precision_step = manifest.get("precision_step", 64)
        self.sort_field = manifest.get("sort_field")
        self.sort_ascending = manifest.get("sort_ascending", True)
        self.docs = LocalTable(os.path.join(path, "docs"), None, decryption)
        self.deleted = (
            LocalTable(os.path.join(path, "deleted"), None, decryption)
            if manifest.get("has_deleted")
            else None
        )
        self.num_terms = (
            LocalTable(os.path.join(path, "num_terms"), None, decryption)
            if self.numeric_meta
            else None
        )

    # ------------------------------------------------------- postings

    def postings_meta_blob_bytes(self, postings_dir: str | None = None) -> int:
        """Upper-bound residency estimate of the docs+dls codec blobs
        from parquet FOOTER statistics only (uncompressed column-chunk
        bytes include per-value length prefixes, so this slightly
        overcounts the exact blob sum) — the pre-read guard that keeps
        `from_dir` from materializing an index far beyond its budget
        before the exact post-read check can refuse it."""
        import pyarrow.parquet as pq

        total = 0
        for f in _parquet_files(
            postings_dir or os.path.join(self.path, "postings")
        ):
            meta = pq.ParquetFile(
                f,
                decryption_properties=(
                    self._dec.file_props() if self._dec is not None else None
                ),
            ).metadata
            for rg in range(meta.num_row_groups):
                g = meta.row_group(rg)
                for c in range(g.num_columns):
                    col = g.column(c)
                    if col.path_in_schema in _BLOB_COLS:
                        total += col.total_uncompressed_size
        return total

    def postings_arrow(self, cols: list[str]):
        """The slim postings table (projected columns, `term != ''`
        vocabulary rows only) plus the EXACT docs+dls blob byte count
        over ALL rows — the same number the Spark path's length-sum agg
        produces for the budget check and memory_stats."""
        return _postings_arrow_one(
            os.path.join(self.path, "postings"), cols, self._dec
        )


def _postings_arrow_one(postings_dir: str, cols: list[str], dec):
    import pyarrow as pa
    import pyarrow.compute as pc

    t = LocalTable(postings_dir, None, dec)
    have = set(t.columns)
    read = [c for c in cols if c in have]
    tbl = t.select(*read).toArrow()
    size = sum(
        int(pc.sum(pc.binary_length(tbl.column(c))).as_py() or 0)
        for c in _BLOB_COLS
    )
    for c in cols:
        if c not in have:
            # pre-round-5 index without the impacts column: null-fill
            # so the ingest sees one schema (WAND uses the loose
            # (max_freq, min_dl) bound then, same as the Spark load)
            tbl = tbl.append_column(c, pa.nulls(tbl.num_rows))
    tbl = tbl.filter(pc.invert(pc.equal(tbl.column("term"), "")))
    return tbl.select(cols), size


class LocalMergedIndex(LocalIndex):
    """Merged multi-segment view of an IncrementalIndexer directory for
    the embedded path — the pyarrow twin of `IncrementalIndexer.read`'s
    one-flat-scan DirectoryReader analogue. Doc-id disjointness across
    segments is the incremental manifest's contract, so CONCATENATING
    the per-segment tables IS the merged index: the hot ingest's
    (term, first_doc) sort interleaves every term's blocks across
    segments into one first_doc-ordered block list, per-term df/cf
    fall out of the same block sums the single-segment replica uses,
    and field stats (N, total_term_freq) are summed from the segment
    manifests. The same homogeneity contract as the cluster read is
    enforced (positions/offsets/payloads/analyzer/norm must agree);
    the granular numeric dictionary unions only when every segment
    carries an identical layout (else GranularRange serves through the
    stored-column tier, identical semantics). Delete masks union
    across the segments that have them."""

    def __init__(
        self,
        root: str,
        seg_paths: list[str],
        sub_manifests: list[dict],
        decryption: EmbeddedDecryption | None = None,
        version: int | None = None,
    ):
        first = sub_manifests[0]
        check_segments_agree(sub_manifests, "serving")
        max_dls = [m.get("max_dl") for m in sub_manifests]
        metas = [m.get("numeric_meta") for m in sub_manifests]
        steps = {m.get("precision_step", 64) for m in sub_manifests}
        num_ok = (
            all(metas)
            and len({json.dumps(x, sort_keys=True) for x in metas}) == 1
            and len(steps) == 1
        )
        merged = {
            "n_docs": sum(m["n_docs"] for m in sub_manifests),
            "total_term_freq": sum(
                m["total_term_freq"] for m in sub_manifests
            ),
            "max_dl": (
                max(max_dls) if all(d is not None for d in max_dls) else None
            ),
            "norm": first.get("norm", "norm2"),
            "with_positions": first["with_positions"],
            "with_offsets": first.get("with_offsets", False),
            "with_payloads": first.get("with_payloads", False),
            "analyzer": first.get("analyzer"),
            "numeric_meta": metas[0] if num_ok else None,
            "precision_step": next(iter(steps)) if num_ok else 64,
            # a merged view never preserves a per-segment sort order
            "sort_field": None,
            "has_deleted": any(m.get("has_deleted") for m in sub_manifests),
        }
        super().__init__(root, merged, decryption)
        self._seg_paths = list(seg_paths)
        self.manifest_version = version
        self.docs = LocalTable(
            [os.path.join(p, "docs") for p in seg_paths], None, decryption
        )
        del_dirs = [
            os.path.join(p, "deleted")
            for p, m in zip(seg_paths, sub_manifests)
            if m.get("has_deleted")
        ]
        self.deleted = (
            LocalTable(del_dirs, None, decryption) if del_dirs else None
        )
        self.num_terms = (
            LocalTable(
                [os.path.join(p, "num_terms") for p in seg_paths],
                None,
                decryption,
            )
            if num_ok
            else None
        )

    def postings_meta_blob_bytes(self, postings_dir: str | None = None) -> int:
        if postings_dir is not None:
            return super().postings_meta_blob_bytes(postings_dir)
        return sum(
            super(LocalMergedIndex, self).postings_meta_blob_bytes(
                os.path.join(p, "postings")
            )
            for p in self._seg_paths
        )

    def postings_arrow(self, cols: list[str]):
        import pyarrow as pa

        tables, size = [], 0
        for p in self._seg_paths:
            tbl, sz = _postings_arrow_one(
                os.path.join(p, "postings"), cols, self._dec
            )
            tables.append(tbl)
            size += sz
        # permissive promotion unifies null-filled impact columns from
        # pre-impacts segments with typed ones from newer segments
        return pa.concat_tables(tables, promote_options="permissive"), size


def load_local_incremental(path: str, encryption=None) -> LocalIndex:
    """An IncrementalIndexer directory (manifest.json with `segments`)
    -> the merged embedded view. Single-segment manifests collapse to
    a plain LocalIndex over that segment."""
    with open(os.path.join(path, "manifest.json")) as f:
        manifest = json.load(f)
    segs = manifest.get("segments", [])
    if not segs:
        raise ValueError(
            f"{path} is an incremental index with no committed segments"
        )
    seg_paths = [os.path.join(path, "segments", s["id"]) for s in segs]
    subs = []
    for p in seg_paths:
        with open(os.path.join(p, "manifest.json")) as f:
            subs.append(json.load(f))
    encs = [m.get("encryption") for m in subs]
    if any(encs):
        if not all(encs):
            raise ValueError(
                "mixed encrypted and plaintext segments — consolidate "
                "before serving embedded"
            )
        if encryption is None:
            raise ValueError(
                "segments are encrypted: pass encryption= with the "
                "master keys (decrypted in-process via pyarrow)"
            )
        if any(e.get("external_key_material") for e in encs):
            raise ValueError(
                "a segment was sealed with external_key_material=True "
                "(key rotation sidecars): pyarrow cannot read sidecar "
                "key material from python — serve through the cluster "
                "path"
            )
    dec = EmbeddedDecryption(encryption) if any(encs) else None
    version = manifest.get("version")
    if len(seg_paths) == 1:
        idx = load_local_index(seg_paths[0], encryption)
        idx.manifest_version = version
        return idx
    return LocalMergedIndex(path, seg_paths, subs, dec, version=version)


def load_local_index(path: str, encryption=None) -> LocalIndex:
    """Read a saved index dir's manifest into a LocalIndex — follows a
    snapshot-committed index's pointer (or `snapshot_id=` time travel
    via `load_local_index(os.path.join(path, data_dir))` after reading
    the log yourself). A SEALED index needs `encryption=` (the same
    `IndexEncryption` object the cluster jobs use, or anything with a
    `master_keys` dict): pyarrow then decrypts pages and footers
    in-process through `EmbeddedDecryption` — no JVM, same keys."""
    if not os.path.exists(os.path.join(path, "manifest.json")):
        if os.path.isdir(os.path.join(path, "segments")):
            raise ValueError(
                f"{path} is an INCREMENTAL index dir (segments/) whose "
                "manifest.json is missing — no committed segments yet"
            )
        raise FileNotFoundError(
            f"{path} has no manifest.json — not a saved index dir"
        )
    with open(os.path.join(path, "manifest.json")) as f:
        manifest = json.load(f)
    if "segments" in manifest:
        # an IncrementalIndexer dir: serve the merged multi-segment
        # view (the embedded DirectoryReader-over-SubReaders analogue)
        return load_local_incremental(path, encryption)
    if "snapshot_pointer" in manifest:
        snaps = {s["id"]: s for s in InvertedIndex._read_snapshot_log(path)}
        sid = manifest["snapshot_pointer"]
        return load_local_index(
            os.path.join(path, snaps[sid]["data_dir"]), encryption
        )
    enc = manifest.get("encryption")
    if enc and encryption is None:
        raise ValueError(
            "index is encrypted (footer key "
            f"{enc.get('footer_key')!r} via {enc.get('kms_client_class')}); "
            "pass encryption=IndexEncryption(...) with the master keys "
            "(decrypted in-process via pyarrow, no JVM needed)"
        )
    if enc and enc.get("external_key_material"):
        # pyarrow's python binding cannot pass the data-file path the
        # C++ key tools need to locate _KEY_MATERIAL_FOR_*.json
        # sidecars (no file_path parameter on
        # file_decryption_properties as of pyarrow 16) — rotation-
        # enabled indexes stay on the cluster path
        raise ValueError(
            "index was sealed with external_key_material=True (key "
            "rotation sidecars): pyarrow cannot read sidecar key "
            "material from python — serve it through the cluster "
            "path, or save with internal key material for embedded "
            "serving"
        )
    dec = EmbeddedDecryption(encryption) if enc else None
    return LocalIndex(path, manifest, dec)


@dataclass(frozen=True)
class LocalSource:
    """What a Spark-free replica is pinned from: a LocalIndex plus the
    query semantics bound to its field stats. It has no cluster entry
    points — HotEngine raises the "no cluster path" error for the
    shapes it cannot serve in memory."""

    index: LocalIndex
    sem: Semantics

    @classmethod
    def open(
        cls,
        index: LocalIndex,
        scorer: str | object = "bm25",
        score_dtype: str = "float64",
        scored_terms_limit: int = 1024,
    ) -> "LocalSource":
        def max_dl() -> int:  # pre-max_dl manifest: one projected scan
            import pyarrow.compute as pc

            t = index.docs.select("dl").toArrow()
            return int(pc.max(t.column("dl")).as_py() or 0)

        return cls(
            index,
            Semantics(
                index.field_stats,
                index.norm,
                scorer,
                score_dtype,
                scored_terms_limit,
                max_dl=max_dl,
            ),
        )


def load_local_multifield(path: str):
    """Multifield dir (field=<name>/ per-field indexes +
    multifield.json) -> the minimal facade HotMultiFieldEngine needs
    (`.engines` per field, `.index.default_field`)."""

    def facade(scorer="bm25", score_dtype="float64", scored_terms_limit=1024):
        with open(os.path.join(path, "multifield.json")) as fh:
            manifest = json.load(fh)
        engines = {
            f: LocalSource.open(
                load_local_index(os.path.join(path, f"field={f}")),
                scorer=scorer,
                score_dtype=score_dtype,
                scored_terms_limit=scored_terms_limit,
            )
            for f in manifest["fields"]
        }
        return SimpleNamespace(
            engines=engines,
            index=SimpleNamespace(default_field=manifest["default_field"]),
        )

    return facade
