"""iresearch_spark — a PySpark-native full-text index + BM25 search engine.

A from-scratch reimplementation of the *capabilities* of the IResearch
full-text engine (reference: GerHobbelt/iresearch, C++), re-expressed as
idiomatic Spark DataFrame pipelines:

- analyzers (tokenize -> normalize -> lowercase -> stopwords -> stem) as
  vectorized pandas UDFs (``iresearch_spark.analysis``),
- inverted-index construction with 128-doc posting blocks, delta-gap +
  varint compression, positions and per-doc norms
  (``iresearch_spark.index``),
- boolean / phrase / prefix / wildcard / fuzzy / range query algebra with
  BM25(k1=1.2, b=0.75) & TF-IDF top-k scoring and block-max (WAND-style)
  pruning (``iresearch_spark.search``),
- large-scale training-data ops: dedup, similarity search, text stats
  (``iresearch_spark.ops``),
- incremental (streaming) indexing (``iresearch_spark.streaming``).

Nothing in here is a port: the reference's iterator engine (doc_iterator /
skip lists / FST term dictionary) is replaced by declarative DataFrame
plans that Catalyst optimizes, with numpy-over-Arrow kernels only where
Spark has no built-in equivalent (varint codecs, position intersection).
"""

__version__ = "0.1.0"

import os as _os
import sys as _sys


def _stat_checked_zip_invalidation() -> None:
    """Python < 3.12: `zipimporter.invalidate_caches` re-reads its
    archive's whole directory on every call, and a PySpark worker calls
    `importlib.invalidate_caches()` before every task, so a reused
    worker re-read pyspark.zip once per cached zipimporter per task.
    Re-read an archive only when its (mtime, size, inode) changed;
    CPython 3.12 made the re-read lazy instead (gh-103200)."""
    import zipimport

    reread = zipimport.zipimporter.invalidate_caches
    seen: dict = {}  # archive -> (stamp, its directory)

    def invalidate_caches(self):
        try:
            st = _os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            stamp = None
        known = seen.get(self.archive)
        if stamp is not None and known is not None and known[0] == stamp:
            self._files = known[1]
            return
        reread(self)
        seen[self.archive] = (stamp, self._files)

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if _sys.version_info < (3, 12):
    _stat_checked_zip_invalidation()

from iresearch_spark.index.builder import build_index  # noqa: F401
from iresearch_spark.index.model import InvertedIndex  # noqa: F401
