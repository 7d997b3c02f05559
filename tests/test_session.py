"""Session defaults fitted to the host."""

import os

from ontologybasedkgcreation_spark.session import (
    MAX_DRIVER_MEM_GB,
    driver_memory_for,
    local_threads,
    memory_bytes,
)

GIB_KB = 1 << 20


def test_driver_memory_fits_host_ram():
    # 40 % of physical RAM, leaving the rest to the Python workers
    assert driver_memory_for(15 * GIB_KB) == "6g"
    assert driver_memory_for(64 * GIB_KB) == "25g"
    # never above the ceiling, never below 1g
    assert driver_memory_for(512 * GIB_KB) == f"{MAX_DRIVER_MEM_GB}g"
    assert driver_memory_for(GIB_KB) == "1g"
    # unknown host: the ceiling
    assert driver_memory_for(None) == f"{MAX_DRIVER_MEM_GB}g"


def test_local_threads_reads_max_failures_forms():
    # Spark's local[N,F] / local[*,F] forms carry the task max-failures
    # count after the comma; the thread count is the part before it
    assert local_threads("local[4]") == 4
    assert local_threads("local[4,2]") == 4
    assert local_threads("local[16, 3]") == 16
    assert local_threads("local[*]") == os.cpu_count()
    assert local_threads("local[*,2]") == os.cpu_count()
    # not a local[...] master: no thread count
    assert local_threads("local") == 0
    assert local_threads("local-cluster[2,1,1024]") == 0
    assert local_threads("spark://host:7077") == 0


def test_spark_submit_job_keeps_master_and_session_conf(tmp_path):
    """main_kg.py under spark-submit: the session keeps the launcher's
    --master and still carries get_spark's conf (UTC session time zone,
    512-row Arrow batches).  The launcher started the driver JVM, so
    ``spark.driver.memory`` never claims more heap than the JVM has, and a
    heap below the host-fitted one gets one warning naming
    ``spark-submit --driver-memory``."""
    import json
    import subprocess
    import sys

    from pyspark.find_spark_home import _find_spark_home

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    probe = tmp_path / "probe.py"
    probe.write_text(
        "import json, sys\n"
        "import main_kg\n"
        "from pyspark.sql import SparkSession\n"
        "main_kg.main(sys.argv[1:])\n"
        "s = SparkSession.getActiveSession()\n"
        "print('CONF ' + json.dumps([s.sparkContext.master,\n"
        "    s.conf.get('spark.sql.session.timeZone'),\n"
        "    s.conf.get('spark.sql.execution.arrow.maxRecordsPerBatch')]))\n"
        "from ontologybasedkgcreation_spark.session import host_driver_memory\n"
        "print('HEAP ' + json.dumps([s.sparkContext.getConf().get(\n"
        "    'spark.driver.memory'),\n"
        "    s.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory(),\n"
        "    host_driver_memory()]))\n"
    )
    env = dict(
        os.environ,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p
        ),
    )
    run = subprocess.run(
        [
            os.path.join(_find_spark_home(), "bin", "spark-submit"),
            "--master", "local[2]",
            str(probe), "--n-pages", "2", "--out", str(tmp_path / "graph"),
        ],
        env=env, cwd=root, capture_output=True, text=True, timeout=600,
    )
    assert run.returncode == 0, run.stderr[-2000:]
    lines = run.stdout.splitlines()
    summary = json.loads(lines[-3])
    assert summary["pages"] == 2 and summary["nodes"] > 0
    assert lines[-2] == "CONF " + json.dumps(["local[2]", "UTC", "512"])
    assert lines[-1].startswith("HEAP "), lines[-1]
    conf, max_heap, fitted = json.loads(lines[-1][len("HEAP "):])
    # Runtime.maxMemory may leave out a survivor space: 10 % slack
    assert conf is None or 0.9 * memory_bytes(conf) <= max_heap, (
        conf,
        max_heap,
    )
    hint = f"spark-submit --driver-memory {fitted}"
    expected = 1 if max_heap < 0.9 * memory_bytes(fitted) else 0
    # spark-submit merges the Python driver's stderr into its stdout
    assert run.stdout.count(hint) == expected, (max_heap, fitted)
