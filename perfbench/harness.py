"""Session lifecycle, set-up timing, operation accounting and teardown."""

from __future__ import annotations

import os
import sys
import time
import traceback

from perfbench.tracing import Tracer

SETUPS = 5  # set-ups per run; setup_s is their median


def prepare_environment(checkout: str, work: str) -> None:
    """Keep every file the run writes inside the checkout, and let Spark's
    Python workers import the program from it."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [checkout] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    if checkout not in sys.path:
        sys.path.insert(0, checkout)


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:6.1f}] {msg}", file=sys.stderr, flush=True)


class Harness:
    """One benchmark process: the Spark session, its set-ups, the operation
    counters, and (when tracing) the span recorder and event log."""

    def __init__(self, work: str, trace: bool):
        self.work = work
        self.tracer = Tracer(trace)
        self.event_log_dir = os.path.join(work, "eventlog")
        self.spark = None
        self.setup_samples: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.max_cached_bytes = 0
        self.app_id = None
        self._gc_ms_start = 0.0

    # -- session ---------------------------------------------------------------

    def _start_session(self):
        from retail_aws_etl_pipeline_spark.session import get_spark

        if self.tracer.enabled:
            os.makedirs(self.event_log_dir, exist_ok=True)
            return get_spark(extra_conf={
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.abspath(self.event_log_dir),
                "spark.eventLog.compress": "false",
            })
        return get_spark()

    def setup(self, start: float) -> None:
        """Set the session up SETUPS times; the first sample runs from
        ``start`` (package import and JVM launch included), the others stop
        and rebuild the session in the running JVM. Each ends with the same
        warm-up job."""
        t0 = start
        for i in range(SETUPS):
            if i:
                self.spark.stop()
                t0 = time.perf_counter()
            self.spark = self._start_session()
            warm_up(self.spark)
            self.setup_samples.append(time.perf_counter() - t0)
            log(f"set-up {i}: {self.setup_samples[-1]:.2f} s")
        self.tracer.spark = self.spark
        self.app_id = self.spark.sparkContext.applicationId
        self._gc_ms_start = self.gc_ms()

    def stop(self) -> None:
        """Stop the session and the JVM the process launched, and wait for it."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 - must not leave the JVM behind
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None

    # -- JVM readings ----------------------------------------------------------

    def jvm_pid(self) -> int:
        return int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    def jvm_peak_rss_mb(self) -> float:
        with open(f"/proc/{self.jvm_pid()}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0

    def gc_ms(self) -> float:
        beans = self.spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return float(sum(max(0, b.getCollectionTime()) for b in beans))

    def gc_s(self) -> float:
        return (self.gc_ms() - self._gc_ms_start) / 1000.0

    def cached_bytes(self) -> int:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return int(sum(i.memSize() + i.diskSize() for i in infos))

    # -- operations --------------------------------------------------------------

    def op(self, label: str, fn, *args, **kwargs):
        """Run one operation; an exception counts as a failed operation and
        the run continues. Returns (ok, result)."""
        self.attempted += 1
        try:
            result = fn(*args, **kwargs)
        except Exception:  # noqa: BLE001 - the run records it and goes on
            self.failed += 1
            print(f"[perfbench] {label} raised:\n{traceback.format_exc()}", file=sys.stderr)
            return False, None
        cached = self.cached_bytes()
        if cached:
            log(f"{label} left {cached} bytes cached")
        self.max_cached_bytes = max(self.max_cached_bytes, cached)
        return True, result

    def fail(self, label: str, errors: list[str]) -> None:
        """Count a wrong answer of an operation already counted as attempted."""
        self.failed += 1
        print(f"[perfbench] {label} wrong: {'; '.join(errors)}", file=sys.stderr)


def warm_up(spark) -> None:
    """The same small shuffle job on every set-up: the session is up, the
    scheduler, codegen and AQE have run once."""
    spark.range(2000).selectExpr("id % 10 AS k").groupBy("k").count().collect()
