"""One cold Spark session per run, stopped with every process it started.

Models one `spark-submit` job: a fresh JVM from `build_session(cores=...)`,
then the workload, then stop. Everything the session writes (local dirs,
warehouse, JVM temp files, the event log) stays under the work directory.
"""

from __future__ import annotations

import os
import signal
import subprocess
import time
from contextlib import suppress
from pathlib import Path

import procfs


class SparkJob:
    def __init__(self, work: Path, cores: int, event_log: bool = False):
        self.work = work
        self.cores = cores
        self.event_log_dir = work / "eventlog" if event_log else None
        self.spark = None
        self.app_id: str | None = None

    def start(self) -> float:
        """Build the session; returns seconds until the first job can run
        (build_session returns after its worker prewarm job)."""
        from microdeduplication_spark.session import build_session

        tmp = self.work / "tmp"
        tmp.mkdir(parents=True, exist_ok=True)
        conf = {
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            "spark.driver.defaultJavaOptions": f"-Djava.io.tmpdir={tmp}",
        }
        if self.event_log_dir is not None:
            self.event_log_dir.mkdir(parents=True, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.event_log_dir.as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t0 = time.perf_counter()
        self.spark = build_session(app_name="perfbench", cores=self.cores,
                                   extra_conf=conf)
        setup_s = time.perf_counter() - t0
        self.app_id = self.spark.sparkContext.applicationId
        return setup_s

    def event_log(self) -> Path:
        """The finished event log; valid after stop()."""
        return self.event_log_dir / self.app_id

    def stop(self, timeout_s: float = 60.0) -> None:
        """Stop the session and the JVM, then wait until every process the
        session started (JVM, Python daemon and workers) has ended."""
        from pyspark import SparkContext

        started = procfs.tree()[1:]
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                # the gateway JVM exits when its stdin reaches EOF
                proc.stdin.close()
                try:
                    proc.wait(timeout=timeout_s)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.monotonic() + timeout_s
        while procfs.alive(started) and time.monotonic() < deadline:
            time.sleep(0.05)
        for pid in procfs.alive(started):
            with suppress(ProcessLookupError):
                os.kill(pid, signal.SIGKILL)
        while procfs.alive(started):
            time.sleep(0.05)
