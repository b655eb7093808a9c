"""The Spark session the benchmark drives, and what it reads back from
Spark: per-operation job attribution, Catalyst phase times, peak RSS.

Task time, JVM GC time and the host markers come from ``bench.py``
(imported, not copied), so the numbers are collected the same way as in
the ``BENCH_r*`` history.
"""

from __future__ import annotations

import os
import resource
import sys

from stats import covered


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def session_settings(work: str) -> dict:
    """``bench.py``'s session, sized to this benchmark: the same
    shuffle-partition rule and planner knobs, a driver heap that fits a
    small shared host, every scratch directory inside ``work``."""
    cpus = cpu_count()
    tmp = os.path.join(work, "tmp")
    return {
        "spark.master": f"local[{cpus}]",
        "spark.app.name": "v3io-tsdb-spark-perfbench",
        "spark.sql.shuffle.partitions": str(max(cpus, 8)),
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.files.maxPartitionBytes": "4m",
        "spark.sql.files.openCostInBytes": "1m",
        "spark.sql.codegen.cache.maxEntries": "4000",
        "spark.cleaner.periodicGC.interval": "90s",
        # per-operation attribution reads jobs and stages back from the
        # status store; nothing may be evicted during a run
        "spark.ui.retainedStages": "20000",
        "spark.ui.retainedJobs": "20000",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "4g",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
    }


def start_session(work: str):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # the JVM and pyspark's own temp files follow these
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    import tempfile

    tempfile.tempdir = None
    from pyspark.sql import SparkSession

    builder = SparkSession.builder
    for k, v in session_settings(work).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM the session launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python driver plus its JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


class JobCounter:
    """Cumulative count of Spark jobs in the current job group — the
    tracer's counter source, so every span knows how many jobs it ran."""

    def __init__(self, spark):
        self.sc = spark.sparkContext

    def __call__(self) -> dict:
        group = self.sc.getLocalProperty("spark.jobGroup.id")
        if group is None:
            return {"jobs": 0}
        # the status tracker is fed off the listener bus
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        return {"jobs": len(self.sc.statusTracker().getJobIdsForGroup(group))}


class OpProbe:
    """Per-operation Spark attribution: each operation runs under its
    own job group; afterwards the status store gives its jobs, tasks,
    shuffle bytes and the part of its wall time some job was running."""

    def __init__(self, spark):
        import bench

        self.spark = spark
        self.sc = spark.sparkContext
        self._task_ms = bench._task_ms
        self._jvm_gc_ms = bench._jvm_gc_ms

    def begin(self, op_id: str, name: str) -> dict:
        self.sc.setJobGroup(op_id, name)
        run, cpu = self._task_ms(self.spark)
        gc, _ = self._jvm_gc_ms(self.spark)
        return {"run_ms": run, "cpu_ms": cpu, "gc_ms": gc}

    def end(self, op_id: str, before: dict, t0_epoch_ms: float, t1_epoch_ms: float) -> dict:
        run, cpu = self._task_ms(self.spark)  # drains the listener bus
        gc, _ = self._jvm_gc_ms(self.spark)
        store = self.sc._jsc.sc().statusStore()
        jvm = self.sc._jvm
        no_status = jvm.java.util.ArrayList()
        no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        jobs = tasks = shuffle = 0
        busy = []
        for job_id in self.sc.statusTracker().getJobIdsForGroup(op_id):
            job = store.job(int(job_id))
            jobs += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined():
                end = done.get().getTime() if done.isDefined() else t1_epoch_ms
                busy.append((sub.get().getTime(), end))
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                attempts = store.stageData(
                    stage_ids.apply(i), False, no_status, False, no_quantiles
                )
                for j in range(attempts.size()):
                    st = attempts.apply(j)
                    tasks += st.numCompleteTasks()
                    shuffle += st.shuffleReadBytes() + st.shuffleWriteBytes()
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        exec_s = covered(busy, t0_epoch_ms, t1_epoch_ms) / 1000.0
        return {
            "jobs": jobs,
            "tasks": tasks,
            "shuffle_bytes": shuffle,
            "task_run_s": (run - before["run_ms"]) / 1000.0,
            "task_cpu_s": (cpu - before["cpu_ms"]) / 1000.0,
            "gc_s": (gc - before["gc_ms"]) / 1000.0,
            "exec_s": exec_s,
            "driver_gap_s": (t1_epoch_ms - t0_epoch_ms) / 1000.0 - exec_s,
        }


def catalyst_s(df) -> float:
    """Analysis + optimization + planning time of an executed frame,
    from its QueryExecution's phase tracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    it = phases.values().iterator()
    total = 0
    while it.hasNext():
        total += it.next().durationMs()
    return total / 1000.0
