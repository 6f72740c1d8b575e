"""Persisted IVF index — the write-once / query-many ANN serving shape.

`ops.similarity.ivf_topk` recomputes centroid assignment per call; at
100 TB the corpus partitioning must be computed ONCE and laid out on
disk so queries touch only their probed cells. This module mirrors the
inverted index's design (`index/model.py`): the index IS a parquet
directory partitioned by cell id (`cid=<n>/` dirs), so a query set
probing p cells reads only those directories — Spark partition pruning
is the cell-seek analogue, exactly like `_tb` term-bucket pruning on
the postings layout.

Determinism: centroids come from the same deterministic constructions
as `ivf_topk` ("hash" seeded sample or spherical k-means on a bounded
sample); cell ranking and cosine use the `topk_join` integer
quantization, so results replay exactly across partitionings and
engines.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from iresearch_spark.ops import similarity


def _quant_np(m, quantize):
    import numpy as np

    v = m * float(quantize)
    return np.trunc(v + np.copysign(0.5, v)).astype(np.int64)


def ivf_save(
    emb: DataFrame,
    path: str,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: str = "hash",
    sample_size: int = 4096,
    kmeans_iters: int = 8,
    quantize: int = 1_000_000,
) -> None:
    """Assign every vector to its nearest centroid (integer-quantized
    cosine, ties to the lower cell id) and write the corpus partitioned
    by `cid` plus a `centroids` table and a manifest. One shuffle
    (the partitioned write); the cell layout is computed once."""
    base = similarity.with_norm(emb, vec_col, id_col)
    if centroids == "kmeans":
        cents = similarity._kmeans_centroids(
            base, n_centroids, sample_size, kmeans_iters
        )
    elif centroids == "hash":
        from iresearch_spark.ops.hashing import seeded_hash60

        cents = (
            base.withColumn("_h", seeded_hash60(F.col("id").cast("string"), 97))
            .orderBy("_h", "id")
            .limit(n_centroids)
            .select(
                F.col("id").alias("cid"),
                F.col("vec").alias("cvec"),
                F.col("norm").alias("cnorm"),
            )
        )
    else:
        raise ValueError("centroids must be 'hash' or 'kmeans'")
    cent_rows = cents.collect()  # n_centroids rows — bounded by design

    import numpy as np

    C = _quant_np(np.array([r["cvec"] for r in cent_rows], dtype=np.float64), quantize)
    cids = [int(r["cid"]) for r in cent_rows]
    cnorm = np.sqrt((C * C).sum(axis=1).astype(np.float64))

    # assign cells with the SAME quantized math the query path uses
    def assign(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = _quant_np(
                np.array([np.asarray(v, dtype=np.float64) for v in pdf["vec"]]),
                quantize,
            )
            vnorm = np.sqrt((V * V).sum(axis=1).astype(np.float64))
            sim = (V @ C.T).astype(np.float64) / (
                vnorm[:, None] * cnorm[None, :]
            )
            best = np.empty(len(pdf), dtype=np.int64)
            bestsim = np.full(len(pdf), -np.inf)
            # argmax with tie -> lower cid: iterate cells in ascending
            # cid, strict > keeps the earlier (lower) cid on ties
            for j in sorted(range(len(cids)), key=lambda j: cids[j]):
                m = sim[:, j] > bestsim
                best[m] = cids[j]
                bestsim[m] = sim[m, j]
            out = pd.DataFrame(
                {"id": pdf["id"], "vec": pdf["vec"], "cid": best}
            )
            yield out

    assigned = base.select("id", "vec").mapInPandas(
        assign, "id long, vec array<double>, cid long"
    )
    assigned.write.partitionBy("cid").mode("overwrite").parquet(
        os.path.join(path, "cells")
    )
    cents.write.mode("overwrite").parquet(os.path.join(path, "centroids"))
    tmp = os.path.join(path, "manifest.json.tmp")
    with open(tmp, "w") as f:
        json.dump(
            {
                "n_centroids": len(cent_rows),
                "quantize": quantize,
                "vec_col": vec_col,
                "id_col": id_col,
            },
            f,
        )
    os.replace(tmp, os.path.join(path, "manifest.json"))


class IvfIndex:
    """Reader over an `ivf_save` directory."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        with open(os.path.join(path, "manifest.json")) as f:
            self.manifest = json.load(f)
        self.cells = spark.read.parquet(os.path.join(path, "cells"))
        self._cent_rows = spark.read.parquet(
            os.path.join(path, "centroids")
        ).collect()

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "IvfIndex":
        return cls(spark, path)

    def search(
        self,
        queries: DataFrame,
        k: int = 5,
        n_probe: int = 4,
        max_queries: int = 100_000,
        exclude_same_id: bool = True,
    ) -> DataFrame:
        """Top-k per query over the probed cells ONLY: the scan's
        partition filter (`cid IN probed`) prunes every other cell
        directory at plan time. Query cells are ranked driver-side with
        the same quantized math `ivf_save` used, queries ship in the
        mapInPandas closure (bounded by `max_queries`), and each cell
        partition emits its local top-k per probing query — the only
        exchange is the final tiny window."""
        import numpy as np

        quantize = self.manifest["quantize"]
        id_col = self.manifest["id_col"]
        vec_col = self.manifest["vec_col"]
        q_rows = queries.select(
            F.col(id_col).alias("id"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias(
                "vec"
            ),
        ).collect()
        if len(q_rows) > max_queries:
            raise ValueError(
                f"{len(q_rows)} query vectors > max_queries={max_queries}"
            )
        if not q_rows:
            return self.spark.createDataFrame(
                [], "query_id long, neighbor_id long, cosine double, rank int"
            )
        C = _quant_np(
            np.array([r["cvec"] for r in self._cent_rows], dtype=np.float64),
            quantize,
        )
        cids = np.array([int(r["cid"]) for r in self._cent_rows])
        cnorm = np.sqrt((C * C).sum(axis=1).astype(np.float64))
        Q = _quant_np(
            np.array([r["vec"] for r in q_rows], dtype=np.float64), quantize
        )
        q_ids = np.array([r["id"] for r in q_rows], dtype=np.int64)
        q_norm = np.sqrt((Q * Q).sum(axis=1).astype(np.float64))
        sim = (Q @ C.T).astype(np.float64) / (q_norm[:, None] * cnorm[None, :])
        # per query: n_probe best cells, ties to lower cid
        order = np.lexsort((np.broadcast_to(cids, sim.shape), -sim), axis=1)
        probe_cells = order[:, : min(n_probe, len(cids))]
        probed = {}
        for qi in range(len(q_ids)):
            for c in probe_cells[qi]:
                probed.setdefault(int(cids[c]), []).append(qi)
        probe_list = sorted(probed)

        nq = len(q_ids)

        def cell_topk(batches):
            import pandas as pd

            for full in batches:
              # one scan task can coalesce several small cid dirs, so a
              # batch may mix cells — process per cell
              for cell, pdf in full.groupby("cid"):
                if len(pdf) == 0:
                    continue
                ids = pdf["id"].to_numpy(dtype=np.int64)
                V = _quant_np(
                    np.array(
                        [np.asarray(v, dtype=np.float64) for v in pdf["vec"]]
                    ),
                    quantize,
                )
                vnorm = np.sqrt((V * V).sum(axis=1).astype(np.float64))
                qis = probed.get(int(cell), [])
                if not qis:
                    continue
                Qs = Q[qis]
                cos = (V @ Qs.T).astype(np.float64) / (
                    vnorm[:, None] * q_norm[qis][None, :]
                )
                out_q, out_n, out_c = [], [], []
                for col_j, qi in enumerate(qis):
                    col = cos[:, col_j]
                    mask = np.isfinite(col)
                    if exclude_same_id:
                        mask &= ids != q_ids[qi]
                    idx = np.nonzero(mask)[0]
                    if idx.size == 0:
                        continue
                    take = min(k, idx.size)
                    sel = idx[np.lexsort((ids[idx], -col[idx]))[:take]]
                    out_q.append(np.full(take, q_ids[qi], np.int64))
                    out_n.append(ids[sel])
                    out_c.append(col[sel])
                if out_q:
                    yield pd.DataFrame(
                        {
                            "query_id": np.concatenate(out_q),
                            "neighbor_id": np.concatenate(out_n),
                            "cosine": np.concatenate(out_c),
                        }
                    )

        pruned = self.cells.filter(F.col("cid").isin(probe_list))
        partial = pruned.mapInPandas(
            cell_topk, "query_id long, neighbor_id long, cosine double"
        )
        w = Window.partitionBy("query_id").orderBy(
            F.desc("cosine"), F.asc("neighbor_id")
        )
        return (
            partial.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cosine", "rank")
        )


class EmbeddedIvfIndex:
    """Spark-free reader over an `ivf_save` directory — the ANN
    analogue of `search/embedded.py`'s hot text serving: a serving
    host needs only Python + pyarrow + numpy. The probed-cell
    partition pruning becomes literal directory selection (only
    `cells/cid=<n>/` dirs of the probed cells are ever opened — the
    same I/O shape Spark's partition filter produces), and every
    arithmetic step (integer quantization, centroid ranking with
    ties to the lower cell id, per-cell cosine top-k with
    (cosine desc, neighbor asc) order) replays `IvfIndex.search`
    exactly, so results are identical row-for-row.

    A saved IVF directory is IMMUTABLE while a reader holds it: the
    manifest and centroids are read once here and decoded cells are
    cached with no invalidation, so rewriting the directory in place
    serves stale or mixed cells. Save a new index to a new directory
    and open a new reader on it."""

    def __init__(self, path: str, max_cache_bytes: int = 1 << 30):
        import glob as _glob

        import numpy as np
        import pyarrow.dataset as ds

        with open(os.path.join(path, "manifest.json")) as f:
            self.manifest = json.load(f)
        self.path = path
        cent = ds.dataset(
            sorted(_glob.glob(os.path.join(
                _glob.escape(os.path.join(path, "centroids")),
                "**", "*.parquet"), recursive=True)),
            format="parquet",
        ).to_table()
        q = self.manifest["quantize"]
        cvecs = np.array(
            [np.asarray(v, dtype=np.float64) for v in
             cent.column("cvec").to_pylist()]
        )
        self._C = _quant_np(cvecs, q)
        self._cids = np.array(cent.column("cid").to_pylist(), dtype=np.int64)
        self._cnorm = np.sqrt((self._C * self._C).sum(axis=1).astype(float))
        self.last_read_cells: list[int] = []
        # lazily pinned decoded cells (ids, quantized vectors, norms):
        # a serving replica touches each probed cell's parquet once,
        # repeat queries hit memory — the HotEngine lazy-decode-cache
        # pattern applied to cells. Pinning is budgeted: once
        # max_cache_bytes of decoded cells are resident, further cells
        # serve uncached (re-read per query) instead of growing the
        # replica unboundedly — size the budget like HotEngine's
        # max_bytes
        self._cell_cache: dict[int, tuple | None] = {}
        self._cache_bytes = 0
        self._max_cache_bytes = int(max_cache_bytes)

    def _cell_table(self, cid: int):
        import glob as _glob

        import pyarrow.dataset as ds

        files = sorted(_glob.glob(os.path.join(
            _glob.escape(os.path.join(self.path, "cells", f"cid={cid}")),
            "*.parquet")))
        if not files:
            return None
        return ds.dataset(files, format="parquet").to_table(
            columns=["id", "vec"]
        )

    def search(
        self,
        queries,
        k: int = 5,
        n_probe: int = 4,
        exclude_same_id: bool = True,
    ) -> list[tuple]:
        """`queries` is [(query_id, vector), ...] (or a dict id->vec);
        returns [(query_id, neighbor_id, cosine, rank), ...] sorted by
        (query_id, rank) — the collected rows of `IvfIndex.search`."""
        import numpy as np

        if isinstance(queries, dict):
            queries = sorted(queries.items())
        if not queries:
            return []
        quantize = self.manifest["quantize"]
        q_ids = np.array([int(i) for i, _ in queries], dtype=np.int64)
        Q = _quant_np(
            np.array([np.asarray(v, dtype=np.float64) for _, v in queries]),
            quantize,
        )
        q_norm = np.sqrt((Q * Q).sum(axis=1).astype(np.float64))
        sim = (Q @ self._C.T).astype(np.float64) / (
            q_norm[:, None] * self._cnorm[None, :]
        )
        order = np.lexsort(
            (np.broadcast_to(self._cids, sim.shape), -sim), axis=1
        )
        probe_cells = order[:, : min(n_probe, len(self._cids))]
        probed: dict[int, list[int]] = {}
        for qi in range(len(q_ids)):
            for c in probe_cells[qi]:
                probed.setdefault(int(self._cids[c]), []).append(qi)
        self.last_read_cells = sorted(probed)
        # candidates accumulate by QUERY ID (not input position): the
        # Spark path's final window partitions by query_id, so
        # duplicate ids in one batch merge into one ranked group there
        # — mirror that exactly
        cand: dict[int, list] = {int(q): [] for q in q_ids}
        for cell in self.last_read_cells:
            if cell in self._cell_cache:
                hit = self._cell_cache[cell]
                if hit is None:
                    continue
                ids, V, vnorm = hit
            else:
                tbl = self._cell_table(cell)
                if tbl is None or tbl.num_rows == 0:
                    self._cell_cache[cell] = None
                    continue
                ids = np.asarray(tbl.column("id").to_pylist(), dtype=np.int64)
                V = _quant_np(
                    np.array([np.asarray(v, dtype=np.float64)
                              for v in tbl.column("vec").to_pylist()]),
                    quantize,
                )
                vnorm = np.sqrt((V * V).sum(axis=1).astype(np.float64))
                nbytes = ids.nbytes + V.nbytes + vnorm.nbytes
                if self._cache_bytes + nbytes <= self._max_cache_bytes:
                    self._cell_cache[cell] = (ids, V, vnorm)
                    self._cache_bytes += nbytes
            qis = probed[cell]
            Qs = Q[qis]
            cos = (V @ Qs.T).astype(np.float64) / (
                vnorm[:, None] * q_norm[qis][None, :]
            )
            for col_j, qi in enumerate(qis):
                col = cos[:, col_j]
                mask = np.isfinite(col)
                if exclude_same_id:
                    mask &= ids != q_ids[qi]
                idx = np.nonzero(mask)[0]
                if idx.size == 0:
                    continue
                take = min(k, idx.size)
                sel = idx[np.lexsort((ids[idx], -col[idx]))[:take]]
                cand[int(q_ids[qi])].append((ids[sel], col[sel]))
        out: list[tuple] = []
        for qid in sorted(cand):
            if not cand[qid]:
                continue
            nid = np.concatenate([a for a, _ in cand[qid]])
            cos = np.concatenate([b for _, b in cand[qid]])
            sel = np.lexsort((nid, -cos))[:k]
            for rank, j in enumerate(sel, start=1):
                out.append((qid, int(nid[j]), float(cos[j]), rank))
        return out

    def memory_stats(self) -> dict:
        """Actual decoded-cell residency of a serving replica vs its
        budget (the HotEngine.memory_stats analogue): pack replicas
        onto hosts by measured footprint, not guesses."""
        return {
            "cells_pinned": sum(
                1 for v in self._cell_cache.values() if v is not None
            ),
            "cache_bytes": self._cache_bytes,
            "budget_bytes": self._max_cache_bytes,
            "centroid_bytes": self._C.nbytes + self._cids.nbytes
            + self._cnorm.nbytes,
        }
