"""Process-level plumbing shared by the workloads: the run's private
work directory, the Spark session's lifetime, and shutting down every
process the run started."""

from __future__ import annotations

import os
import shlex
import shutil
import statistics
import time

from perfbench import measure

# The engine's own session factory sizes everything from this; the
# benchmark runs Spark at local[<cores this process may use>].
CPUS = str(len(os.sched_getaffinity(0)))
DRIVER_MEMORY = "2g"
SETUP_ROUNDS = 3


class Harness:
    """Owns the run's work directory (inside the checkout) and the
    SparkSession. Spark, the JVM and Python's temp files are all pointed
    into the work directory, so the run writes nowhere else."""

    def __init__(self, root: str, run_id: str):
        self.work = os.path.join(root, ".perfbench", run_id)
        self.spark = None
        self.session_start_s: list[float] = []
        self.setup_round_s: list[float] = []
        tmp = os.path.join(self.work, "tmp")
        local = os.path.join(self.work, "spark-local")
        os.makedirs(tmp, exist_ok=True)
        os.makedirs(local, exist_ok=True)
        os.environ.update({
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": local,
            "SPARK_GRAFT_CPUS": CPUS,
            "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
            # every JVM, Spark's launcher included: temp files in the
            # work directory and no hsperfdata file in /tmp
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "PYSPARK_SUBMIT_ARGS": (
                "--conf spark.ui.showConsoleProgress=false "
                f"--conf spark.sql.warehouse.dir={shlex.quote(os.path.join(self.work, 'warehouse'))} "
                "pyspark-shell"
            ),
        })
        import tempfile

        tempfile.tempdir = tmp

    def path(self, *parts: str) -> str:
        p = os.path.join(self.work, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def start_session(self):
        from datafusion_streams_spark import get_session

        t0 = time.perf_counter()
        self.spark = get_session(app_name="perfbench", cpus=CPUS)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_start_s.append(time.perf_counter() - t0)
        return self.spark

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def setup_rounds(self, round_fn, restart_session: bool) -> float:
        """Set up ``SETUP_ROUNDS`` times and return the median round.
        Each round runs ``round_fn(spark, last)``, which brings the
        workload to its first result. The first round also starts the
        session (and launches the JVM); with ``restart_session`` every
        later round starts a fresh session too. The last round's
        session, and whatever ``round_fn`` left running in it, is kept
        for the measured work."""
        for r in range(SETUP_ROUNDS):
            last = r == SETUP_ROUNDS - 1
            t0 = time.perf_counter()
            if self.spark is None:
                self.start_session()
            round_fn(self.spark, last)
            self.setup_round_s.append(time.perf_counter() - t0)
            if restart_session and not last:
                self.stop_session()
        return statistics.median(self.setup_round_s)

    def close(self) -> list[int]:
        """Stop Spark and the JVM, wait for every process this run
        started to end, and remove the work directory. Returns the pids
        still running after the wait (normally none)."""
        from pyspark import SparkContext

        started = measure.descendants(os.getpid())
        self.stop_session()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                # the gateway JVM exits when its stdin closes
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None
        alive = measure.wait_for_exit(started, timeout_s=30)
        shutil.rmtree(self.work, ignore_errors=True)
        return alive
