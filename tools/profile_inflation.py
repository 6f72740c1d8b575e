"""Attribute the 8->32-core CPU-second inflation of the 1M-page build
(BENCH/BASELINE.md measured 1.57x total-work growth) to its stages.

Runs the same page corpus through four increasingly complete pipelines
at two parallelism levels, each in its OWN JVM, recording wall +
process-tree CPU seconds:

  scan      cached-pages count (no Python)
  shuffle   the build's projected repartition+sort, consumed by a
            no-op Arrow pass (Python worker IPC, no tokenize)
  tokenize  shuffle + Arrow tokenizer (analyze_flat), no encode
  build     the full fused build (tokenize + sort + block encode)

If the CPU inflation appears already at `shuffle`/`tokenize`, it is
worker/IPC/host-side (page cache, allocator, kernel fault overhead
shared across 32 threads) — not algorithmic to the codec. The
multiprocessing control in BENCH/BASELINE.md showed the HOST alone
inflates pure-Python work ~1.4x at 32 workers; this pins down where
the remainder (if any) lives.

Usage: python tools/profile_inflation.py [n_pages] [cores...]
"""

from __future__ import annotations

import json
import subprocess
import sys

WORKER = r"""
import json, os, sys, time
sys.path.insert(0, "/root/repo")
import numpy as np
import pyarrow as pa
from iresearch_spark.analysis.analyzers import get_analyzer
from iresearch_spark.corpus import generate_pages
from iresearch_spark.index.builder import build_index
from iresearch_spark.session import C2_CONF, get_spark


def tree_cpu_sec():
    me = os.getpid()
    procs = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                parts = f.read().rsplit(") ", 1)[1].split()
            procs[int(pid)] = (int(parts[1]), int(parts[11]) + int(parts[12]))
        except Exception:
            pass
    total = 0
    for pid, (ppid, _) in procs.items():
        p = pid
        while p in procs:
            if p == me:
                total += procs[pid][1]
                break
            p = procs[p][0]
    return total / os.sysconf("SC_CLK_TCK")


cores = int(sys.argv[1]); n_pages = int(sys.argv[2]); reps = int(sys.argv[3])
spark = get_spark(f"prof-{cores}", cores=cores, shuffle_partitions=cores, extra_conf=C2_CONF)
from pyspark.sql import functions as F

pages = generate_pages(spark, n_pages, seed=42).cache()
pages.count()
spark.range(cores * 4, numPartitions=cores * 2).mapInPandas(
    lambda it: it, "id long"
).count()

an = get_analyzer("segmentation")


def arranged():
    return (
        pages.select(F.col("url").alias("_key"), "text")
        .withColumn("_seg", F.pmod(F.xxhash64(F.col("_key")), F.lit(cores * 8)).cast("int"))
        .repartition("_seg")
        .sortWithinPartitions("_seg", "_key")
    )


def noop_arrow(batches):
    n = 0
    for b in batches:
        n += b.num_rows
    yield pa.RecordBatch.from_arrays([pa.array([n])], names=["n"])


def tok_arrow(batches):
    total = 0
    for b in batches:
        texts = b.column(b.schema.names.index("text"))
        ft = an.analyze_flat(texts)
        total += int(ft.n_tokens.sum())
    yield pa.RecordBatch.from_arrays([pa.array([total])], names=["n"])


STAGES = {
    "scan": lambda: pages.count(),
    "shuffle": lambda: arranged().mapInArrow(noop_arrow, "n long").count(),
    "tokenize": lambda: arranged().mapInArrow(tok_arrow, "n long").count(),
    "build": lambda: build_index(
        pages, id_col=None, sort_key="url", analyzer="segmentation"
    ).blocks.unpersist(),
}

out = {}
for name, fn in STAGES.items():
    walls, cpus_ = [], []
    for _ in range(reps):
        c0 = tree_cpu_sec(); t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
        cpus_.append(tree_cpu_sec() - c0)
    i = walls.index(min(walls))
    out[name] = {"wall": round(walls[i], 2), "cpu": round(cpus_[i], 1)}
print("RESULT " + json.dumps(out))
"""


def main():
    n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 400_000
    cores_list = [int(c) for c in sys.argv[2:]] or [8, 32]
    results = {}
    for cores in cores_list:
        r = subprocess.run(
            [sys.executable, "-c", WORKER, str(cores), str(n_pages), "2"],
            capture_output=True,
            text=True,
        )
        line = [l for l in r.stdout.splitlines() if l.startswith("RESULT ")]
        if not line:
            print(r.stdout[-2000:], r.stderr[-2000:])
            raise SystemExit(f"worker failed at {cores} cores")
        results[cores] = json.loads(line[0][len("RESULT "):])
        print(cores, "cores:", results[cores], flush=True)
    if len(cores_list) == 2:
        a, b = cores_list
        print(f"\nCPU inflation {a}->{b} cores (ratio of tree CPU-sec):")
        for stage in results[a]:
            ca, cb = results[a][stage]["cpu"], results[b][stage]["cpu"]
            if ca > 0:
                print(f"  {stage:9s} {cb / ca:.2f}x   ({ca} -> {cb})")
    print("\nJSON " + json.dumps({"n_pages": n_pages, "results": results}))


if __name__ == "__main__":
    main()
