"""SparkSession factory with scale-appropriate defaults.

Local mode is single-JVM; on a real cluster the same config applies, with
AQE handling runtime skew/coalescing. Tuned per the public Spark docs.

The driver JVM starts C1-only (`-XX:TieredStopAtLevel=1`) unless the
caller passes `C2_CONF`. Which compiler pays depends on how the JVM's CPU
splits between compiling code it runs only a few times (Spark's per-job
planning and scheduling) and running the same code over large inputs
(scans, shuffles, sorts and parquet encoding in its tasks). Measured on
a 4-vCPU VM (BENCH/BASELINE.md "Round 10"):

- compiling dominates a JVM that runs many jobs over little data. In
  perfbench's `cluster` run (6,000 pages, one job per query) the
  compiler threads took 0.56 of a query's 0.79 JVM CPU-s, and C1-only
  halves the query's CPU; an `ingest` commit of 1,500 pages uses
  36-51 % less JVM CPU, though its tasks use more;
- task work dominates once the data grows, and C1 code is slower at it:
  in bench.py's session a 100,000-page build took 26-32 s against
  14.6-16.1 s with C2, and queries over that index 0.87-1.41 s against
  0.35-0.46 s; the test suite's one JVM ran 2,102 s against 1,647 s.

get_spark cannot see how much data its session will process, so the
default serves short sessions over small inputs, and callers that
process real volumes pass `C2_CONF`: bench.py, the test suite and the
tools/ scripts do.

Python workers import this package from the driver's own package root,
not from the JVM's working directory (see get_spark).
"""

from __future__ import annotations

import os
import re

import pyspark
from pyspark.sql import SparkSession

# extra_conf that turns C2 back on, for a session that processes real
# data volumes (see the module docstring)
C2_CONF = {"spark.driver.extraJavaOptions": "-XX:TieredStopAtLevel=4"}

# where the driver imported this package from (a directory or a zip)
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def driver_memory(physical: int | None = None) -> str:
    """Default spark.driver.memory: 16g, or half of the host's physical
    memory (`physical` bytes; read with os.sysconf when None) if that
    is less, so a local session leaves room for its Python workers."""
    if physical is None:
        physical = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(16 << 10, physical // 2 >> 20)}m"


def site_defaults() -> dict:
    """The spark-defaults.conf entries spark-submit loads under a
    session's --conf values: from $SPARK_CONF_DIR, else
    $SPARK_HOME/conf, else pyspark's own conf directory."""
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(
        os.environ.get("SPARK_HOME") or os.path.dirname(pyspark.__file__), "conf"
    )
    out = {}
    try:
        with open(os.path.join(conf_dir, "spark-defaults.conf")) as f:
            for line in f:
                m = re.match(r"([^\s=:#!][^\s=:]*)\s*[=:\s]\s*(.*)", line.strip())
                if m:
                    out[m.group(1)] = m.group(2).strip()
    except OSError:
        pass
    return out


def get_spark(
    app_name: str = "iresearch_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """The shared SparkSession, started with this engine's defaults.

    `extra_conf` entries override the defaults. The driver JVM is
    C1-only through spark.driver.defaultJavaOptions, which Spark puts
    before spark.driver.extraJavaOptions: a caller's own extraJavaOptions
    keep the policy, and `C2_CONF`'s `-XX:TieredStopAtLevel=4` there
    turns C2 back on (when to: see the module docstring). The flag goes
    in front of the site's own defaultJavaOptions from
    spark-defaults.conf, and the package root in front of the site's
    spark.executorEnv.PYTHONPATH, so both site settings are kept; an
    `extra_conf` value for either key replaces ours and the site's.
    """
    site = site_defaults()
    java_options = " ".join(
        o for o in ("-XX:TieredStopAtLevel=1", site.get("spark.driver.defaultJavaOptions")) if o
    )
    worker_path = os.pathsep.join(
        p for p in (_PACKAGE_ROOT, site.get("spark.executorEnv.PYTHONPATH")) if p
    )
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # posting blobs are tiny on the wire but expensive to DECODE
        # (one 2MB shuffle fans a hot term's 1M packed postings out to
        # the whole cluster); default 1MB coalescing would collapse
        # that decode back to 1-2 tasks
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", driver_memory()))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.defaultJavaOptions", java_options)
        # Python workers run `python -m pyspark.daemon`, which puts the
        # JVM's working directory first on sys.path: started inside
        # another checkout, they would import that checkout's package.
        # PYTHONSAFEPATH (Python >= 3.11) drops that entry, and Spark
        # appends this PYTHONPATH after its pyspark and py4j entries.
        .config("spark.executorEnv.PYTHONSAFEPATH", "1")
        .config("spark.executorEnv.PYTHONPATH", worker_path)
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
