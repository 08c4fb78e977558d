"""The Spark driver JVM the benchmark runs in, and what Spark reports about it.

One ``SparkProc`` owns one JVM. ``start`` launches it through the package's
``session.get_spark`` with the master and shuffle partitions pinned from the
host's core count, ``restart`` replaces the SparkContext inside the same
JVM, and ``close`` stops the session and waits for the JVM to exit.
Every temporary and scratch directory Spark, the JVM and Python workers
use is placed under the benchmark's work directory.
"""

from __future__ import annotations

import os
import subprocess
import tempfile

from pyspark import SparkContext
from pyspark.sql import SparkSession

from opentelemetry_collector_contrib_spark.session import get_spark

DRIVER_MEMORY = "1g"


def cores() -> int:
    return len(os.sched_getaffinity(0))


class SparkProc:
    def __init__(self, work_dir: str, cores: int):
        self.cores = cores
        self.tmp = os.path.join(work_dir, "tmp")
        os.makedirs(self.tmp, exist_ok=True)
        # the py4j handshake file and Python workers honour TMPDIR; the
        # JVM that spark-submit runs first takes SPARK_LAUNCHER_OPTS
        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={self.tmp}"
        tempfile.tempdir = self.tmp
        self.spark: SparkSession | None = None
        self._gateway = None

    def start(self, cores: int | None = None) -> SparkSession:
        """A session at ``local[cores]``; launches the JVM if none is up."""
        if cores is not None:
            self.cores = cores
        n = self.cores
        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{n}]",
            shuffle_partitions=2 * n,
            extra_conf={
                "spark.driver.memory": DRIVER_MEMORY,
                "spark.local.dir": self.tmp,
                # a fixed-size heap, so peak RSS does not hinge on when the
                # collector chose to grow it
                "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={self.tmp} -XX:-UsePerfData",
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.streaming.numRecentProgressUpdates": "1000",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self._gateway = SparkContext._gateway
        return self.spark

    def restart(self, cores: int | None = None) -> SparkSession:
        """A fresh SparkContext and session in the running JVM."""
        self.spark.stop()
        return self.start(cores)

    def jvm_pid(self) -> int:
        return self._gateway.proc.pid

    def peak_rss_mb(self) -> float:
        """The JVM's high-water resident set size (VmHWM) in MiB."""
        with open(f"/proc/{self.jvm_pid()}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from /proc status")

    def close(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        gw = self._gateway
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if gw is None:
            return
        gw.shutdown()
        gw.proc.stdin.close()
        try:
            gw.proc.wait(60)
        except subprocess.TimeoutExpired:
            gw.proc.kill()
            gw.proc.wait(30)
        SparkContext._gateway = None
        SparkContext._jvm = None
        self._gateway = None


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def group_stats(spark: SparkSession, group: str) -> dict:
    """Totals over every stage of the jobs run under job group ``group``,
    read from Spark's own status store once its listener bus has drained."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    job_ids = sc.statusTracker().getJobIdsForGroup(group)
    out = dict.fromkeys(
        ("output_bytes", "output_records", "shuffle_write_bytes", "spill_bytes", "max_task_shuffle_rows"),
        0,
    )
    out["jobs"] = len(job_ids)
    seen = set()
    for jid in job_ids:
        for sid in _seq(store.job(jid).stageIds()):
            for sd in _seq(store.stageData(sid, False, None, False, None)):
                key = (sd.stageId(), sd.attemptId())
                if key in seen or sd.status().toString() != "COMPLETE":
                    continue
                seen.add(key)
                out["output_bytes"] += sd.outputBytes()
                out["output_records"] += sd.outputRecords()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += sd.diskBytesSpilled()
                if sd.shuffleReadRecords():
                    for t in _seq(store.taskList(sid, sd.attemptId(), 100_000)):
                        m = t.taskMetrics()
                        if m.isDefined():
                            rows = m.get().shuffleReadMetrics().recordsRead()
                            out["max_task_shuffle_rows"] = max(out["max_task_shuffle_rows"], rows)
    return out


def plan_metric(df, metric: str) -> int:
    """Sum of SQL metric ``metric`` over every node of ``df``'s executed
    plan, walking through adaptive query stages; call after an action."""
    total = 0
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if kind.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        found = node.metrics().get(metric)
        if found.isDefined():
            total += found.get().value()
        todo += _seq(node.children())
    return total


def cached_bytes(spark: SparkSession) -> int:
    """Memory plus disk bytes of every persisted RDD."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos)
