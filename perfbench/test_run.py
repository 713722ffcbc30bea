"""Tests of ``run.py``'s own accounting: failed operations and CPU time.

``run.cpu_seconds`` must count the CPU of PySpark's Python workers.  The
workers that run pandas/Arrow UDFs are forked by PySpark's daemon, a child
of the JVM, and outlive the job, so neither the JVM's own times nor its
reaped-children times hold their CPU.  That test starts a one-core Spark
session (about 20 s).  Run with

    python3 -m pytest perfbench/test_run.py -q
"""

from __future__ import annotations

import os
import sys
import types

import run

BURN_S = 2.0


def test_failed_operation_is_counted(tmp_path):
    r = run.Run("warehouse_load", 1, 1, False, str(tmp_path))
    assert r.timed("ok", lambda: 3) == 3
    assert r.timed("bad", lambda: 1 / 0) is run.FAILED
    assert r.failed == 1 and [name for name, _ in r.ops] == ["ok", "bad"]


def own_and_jvm_seconds(jvm: int) -> float:
    """What the figure would be without the JVM's descendants."""
    t = os.times()
    with open(f"/proc/{jvm}/stat") as fh:
        f = fh.read().rsplit(")", 1)[1].split()
    return t.user + t.system + sum(int(x) for x in f[11:15]) / os.sysconf("SC_CLK_TCK")


def test_python_worker_cpu_is_counted(tmp_path, monkeypatch):
    from pyspark.sql import SparkSession

    def burn(batches, burn_s=BURN_S):  # defined here so that it pickles by value
        import time

        for batch in batches:
            t = time.process_time()
            while time.process_time() - t < burn_s:
                pass
            yield batch

    monkeypatch.setenv("PYSPARK_PYTHON", sys.executable)
    spark = (SparkSession.builder.master("local[1]").appName("perfbench-cpu")
             .config("spark.ui.enabled", "false")
             .config("spark.local.dir", str(tmp_path))
             .config("spark.driver.memory", "512m")
             .getOrCreate())
    try:
        jvm = run.jvm_pid()
        df = spark.range(4, numPartitions=1)
        df.mapInPandas(lambda it: it, df.schema).count()  # start the daemon before measuring
        tree0, own0 = run.cpu_seconds(jvm), own_and_jvm_seconds(jvm)
        assert df.mapInPandas(burn, df.schema).count() == 4
        tree, own = run.cpu_seconds(jvm) - tree0, own_and_jvm_seconds(jvm) - own0
    finally:
        run.stop_session(types.SimpleNamespace(spark=spark))
    assert tree - own >= 0.8 * BURN_S, (tree, own)
