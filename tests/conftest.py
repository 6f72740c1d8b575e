import collections
import re

import pytest

from iresearch_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("iresearch-tests", cores=4, shuffle_partitions=8)
    yield s


class Jobs(int):
    """The number of Spark jobs a call launched. Its repr also lists
    them per SQL execution, so a failed job budget names the call site
    that grew."""

    def __new__(cls, spark, first: int, end: int):
        n = super().__new__(cls, end - first)
        n.spark, n.ids = spark, range(first, end)
        return n

    def sites(self) -> collections.Counter:
        """Jobs per SQL-execution description (writes add their output
        directory); jobs outside any SQL execution, such as parquet
        schema inference, count under their own job name."""
        jsc = self.spark.sparkContext._jsc.sc()
        execs = self.spark._jsparkSession.sharedState().statusStore().executionsList()
        owner = {}
        for i in range(execs.size()):
            e = execs.apply(i)
            label = e.description()
            out = re.search(r"Arguments: file:(\S+?),", e.physicalPlanDescription())
            if out:
                label += " -> " + "/".join(out.group(1).split("/")[-2:])
            keys = e.jobs().keys().toList()
            for k in range(keys.size()):
                owner[int(keys.apply(k))] = label
        out = collections.Counter()
        for j in self.ids:
            if j not in owner:
                try:
                    owner[j] = "no SQL execution: " + jsc.statusStore().job(j).name()
                except Exception:
                    owner[j] = "no SQL execution"
            out[owner[j]] += 1
        return out

    def __repr__(self):
        lines = [f"{n:3d}  {site}" for site, n in self.sites().most_common()]
        return f"{int(self)} Spark jobs:\n" + "\n".join(lines)


@pytest.fixture
def spark_jobs(spark):
    """spark_jobs(fn) runs fn() and returns the Spark jobs it launched
    (a `Jobs`; job ids are sequential, whichever thread submits)."""

    def run(fn) -> Jobs:
        sched = spark.sparkContext._jsc.sc().dagScheduler()
        first = sched.nextJobId()
        fn()
        return Jobs(spark, first, sched.nextJobId())

    return run
