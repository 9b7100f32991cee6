"""The engine's Spark session, fitted to the host the benchmark runs on.

* ``local[cpus]`` with ``cpus`` = the CPUs this process may run on (what
  ``nproc`` prints), and as many shuffle partitions;
* a driver heap far below the engine's 48g default, so the benchmark
  fits a small host;
* every file Spark, the JVM and Python write goes under one work
  directory inside the checkout, removed by :meth:`SparkHost.close`;
* ``PYTHONPATH`` names the repository root, so Python workers import the
  engine wherever the benchmark is started from.
"""

from __future__ import annotations

import os
import shutil
import tempfile

DRIVER_MEMORY = "3g"


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


class SparkHost:
    """Owns the work directory, the JVM gateway and the current session.

    Create it before the first session starts: the constructor points the
    temp-file environment of this process and of the JVM it will launch at
    the work directory."""

    def __init__(self, repo_root: str, out_dir: str, trace: bool):
        os.makedirs(out_dir, exist_ok=True)
        self.workdir = tempfile.mkdtemp(prefix="run-", dir=out_dir)
        self.tmp = self._dir("tmp")
        self.event_dir = self._dir("events") if trace else None
        self.cpus = host_cpus()
        self.spark = None
        tempfile.tempdir = self.tmp
        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = self._dir("spark-local")
        os.environ["JAVA_TOOL_OPTIONS"] = (
            f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData")
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (repo_root, os.environ.get("PYTHONPATH")) if p)

    def _dir(self, name: str) -> str:
        path = os.path.join(self.workdir, name)
        os.makedirs(path, exist_ok=True)
        return path

    def store_root(self, name: str) -> str:
        return self._dir(name)

    def start(self):
        """A fresh session; the first call also launches the JVM."""
        from bob_vector_db_spark.session import get_spark  # noqa: PLC0415

        if self.spark is not None:
            self.spark.stop()
        conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(self.workdir,
                                                    "warehouse"),
        }
        if self.event_dir is not None:
            # one uncompressed file: Spark 4 defaults the event log to
            # rolling zstd parts, and the parser here reads plain JSON lines
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = get_spark("perfbench", shuffle_partitions=self.cpus,
                               extra_conf=conf, cpus=self.cpus)
        return self.spark

    def stop(self) -> str | None:
        """Stop the session; returns the path of its (now complete) event
        log when tracing."""
        log = None
        if self.spark is not None:
            if self.event_dir is not None:
                log = os.path.join(self.event_dir,
                                   self.spark.sparkContext.applicationId)
            self.spark.stop()
            self.spark = None
        return log

    def close(self) -> None:
        """Stop the session, end the JVM and wait for it, then remove the
        work directory."""
        from pyspark import SparkContext  # noqa: PLC0415

        try:
            self.stop()
            gw = SparkContext._gateway
            if gw is not None:
                gw.shutdown()
                proc = getattr(gw, "proc", None)
                if proc is not None:
                    proc.stdin.close()
                    proc.wait(timeout=60)
                SparkContext._gateway = None
                SparkContext._jvm = None
        finally:
            shutil.rmtree(self.workdir, ignore_errors=True)


def tree_cpu_s() -> float:
    """User plus system CPU time of this process and all its descendants
    (the JVM and its Python workers), from /proc."""
    parent, cpu = {}, {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        parent[int(pid)] = int(f[1])
        cpu[int(pid)] = int(f[11]) + int(f[12])
    mine = {os.getpid()}
    grew = True
    while grew:
        more = {p for p, pp in parent.items() if pp in mine} - mine
        grew = bool(more)
        mine |= more
    return sum(cpu[p] for p in mine) / os.sysconf("SC_CLK_TCK")
