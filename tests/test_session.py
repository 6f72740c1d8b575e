"""Process set-up the package does on import and in get_spark: the
driver-memory default, the stat-checked zip re-read of Python workers,
the C1-only driver JVM and where Python workers import the package
from."""

import importlib
import json
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import iresearch_spark  # also installs the zip re-read check
from iresearch_spark.session import C2_CONF, driver_memory, site_defaults

GiB = 1 << 30


def test_driver_memory_is_half_of_a_small_host():
    assert driver_memory(15 * GiB) == "7680m"
    assert driver_memory(4 * GiB) == "2048m"


def test_driver_memory_caps_at_16g():
    assert driver_memory(32 * GiB) == "16384m"
    assert driver_memory(512 * GiB) == "16384m"


def test_driver_memory_reads_the_host_by_default():
    physical = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert driver_memory() == driver_memory(physical)


def _write_zip(path, name, value):
    tmp = path + ".tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        z.writestr(f"{name}.py", f"VALUE = {value!r}\n")
    os.replace(tmp, path)  # a new file: new inode


def test_unchanged_zip_is_not_reread(tmp_path, monkeypatch):
    """An unchanged archive keeps its directory across
    importlib.invalidate_caches(); a rewritten one is re-read, and its
    new module imports."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, "zmod_first", 1)
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("zmod_first").VALUE == 1
        importlib.invalidate_caches()  # records the archive's stamp

        reads = []
        real = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return real(path)

        monkeypatch.setattr(zipimport, "_read_directory", counting)
        importlib.invalidate_caches()
        assert archive not in reads

        _write_zip(archive, "zmod_second", 2)
        importlib.invalidate_caches()
        assert archive in reads
        assert importlib.import_module("zmod_second").VALUE == 2
    finally:
        for m in ("zmod_first", "zmod_second"):
            sys.modules.pop(m, None)
        sys.path_importer_cache.pop(archive, None)


# Runs get_spark in a fresh process (the test session's JVM may already
# be up) and prints what the JVM and one mapInArrow task report.
_SESSION_FACTS = textwrap.dedent("""
    import json, sys
    sys.path.insert(0, sys.argv[2])
    import pyarrow as pa
    from iresearch_spark.session import get_spark

    spark = get_spark("session-facts", cores=1, extra_conf=json.loads(sys.argv[1]))
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    hotspot = mf.getPlatformMXBean(
        spark.sparkContext._jvm.java.lang.Class.forName(
            "com.sun.management.HotSpotDiagnosticMXBean"))

    def package_file(batches):
        import os
        import iresearch_spark
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {"f": [iresearch_spark.__file__], "p": [os.environ.get("PYTHONPATH", "")]}
        )

    worker = spark.range(1, numPartitions=1).mapInArrow(
        package_file, "f string, p string").collect()
    print(json.dumps({
        "args": list(mf.getRuntimeMXBean().getInputArguments()),
        "tiered_stop": hotspot.getVMOption("TieredStopAtLevel").getValue(),
        "worker_file": worker[0].f,
        "worker_path": worker[0].p,
    }))
    spark.stop()
""")

REPO = os.path.dirname(os.path.dirname(os.path.abspath(iresearch_spark.__file__)))


def _session_facts(tmp_path, extra_conf, cwd=None, conf_dir=None):
    """The driver finds the package through its own sys.path, not
    PYTHONPATH, so the JVM and its workers inherit no path to it."""
    script = tmp_path / "session_facts.py"
    script.write_text(_SESSION_FACTS)
    env = dict(os.environ)
    for k in ("PYTHONPATH", "PYTHONSAFEPATH", "PYSPARK_SUBMIT_ARGS", "SPARK_CONF_DIR"):
        env.pop(k, None)
    if conf_dir is not None:
        env["SPARK_CONF_DIR"] = str(conf_dir)
    conf = {"spark.driver.memory": "512m", **extra_conf}
    out = subprocess.run(
        [sys.executable, str(script), json.dumps(conf), REPO],
        cwd=cwd or tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_driver_jvm_is_c1_only_with_caller_java_options(tmp_path):
    """A caller's own spark.driver.extraJavaOptions (perfbench passes
    some) keep the C1-only policy."""
    facts = _session_facts(
        tmp_path, {"spark.driver.extraJavaOptions": "-XX:-UsePerfData"}
    )
    assert "-XX:TieredStopAtLevel=1" in facts["args"]
    assert "-XX:-UsePerfData" in facts["args"]
    assert facts["tiered_stop"] == "1"


def test_c2_conf_turns_c2_back_on(tmp_path):
    """C2_CONF's flag comes later on the JVM's command line, so it wins."""
    facts = _session_facts(tmp_path, C2_CONF)
    args = facts["args"]
    assert args.index("-XX:TieredStopAtLevel=1") < args.index("-XX:TieredStopAtLevel=4")
    assert facts["tiered_stop"] == "4"


def test_workers_import_the_drivers_package(tmp_path):
    """A driver started with a decoy `iresearch_spark` in its working
    directory runs its own package in Python tasks, not the decoy."""
    cwd = tmp_path / "other_checkout"
    (cwd / "iresearch_spark").mkdir(parents=True)
    (cwd / "iresearch_spark" / "__init__.py").write_text("")
    facts = _session_facts(tmp_path, {}, cwd=cwd)
    assert facts["worker_file"] == iresearch_spark.__file__


def _write_site_defaults(conf_dir):
    conf_dir.mkdir()
    (conf_dir / "spark-defaults.conf").write_text(
        "# site settings\n"
        "spark.driver.defaultJavaOptions   -Dsite.option=a=b\n"
        "! also a comment\n"
        "spark.executorEnv.PYTHONPATH=/site/lib\n"
        "spark.ui.port: 4050\n"
    )


def test_site_defaults_reads_spark_defaults_conf(tmp_path, monkeypatch):
    _write_site_defaults(tmp_path / "conf")
    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path / "conf"))
    assert site_defaults() == {
        "spark.driver.defaultJavaOptions": "-Dsite.option=a=b",
        "spark.executorEnv.PYTHONPATH": "/site/lib",
        "spark.ui.port": "4050",
    }
    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path / "absent"))
    assert site_defaults() == {}


def test_site_java_options_and_worker_path_are_kept(tmp_path):
    """get_spark adds to the site's defaultJavaOptions and worker
    PYTHONPATH from spark-defaults.conf instead of replacing them."""
    _write_site_defaults(tmp_path / "conf")
    facts = _session_facts(tmp_path, {}, conf_dir=tmp_path / "conf")
    args = facts["args"]
    assert args.index("-XX:TieredStopAtLevel=1") < args.index("-Dsite.option=a=b")
    assert facts["tiered_stop"] == "1"
    path = facts["worker_path"].split(os.pathsep)
    assert path.index(REPO) < path.index("/site/lib")
    assert facts["worker_file"] == iresearch_spark.__file__


def test_suite_session_runs_c2(spark):
    """The suite's one JVM turns C2 back on (conftest.py)."""
    jvm = spark.sparkContext._jvm
    hotspot = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    assert hotspot.getVMOption("TieredStopAtLevel").getValue() == "4"
