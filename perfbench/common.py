"""What both workloads share: the run's environment, the Spark session's
life cycle, the cold reset, the calibration probe and the statistics."""

from __future__ import annotations

import importlib.util
import os
import platform
import shlex
import shutil
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "wilayah_aceh_etl_spark"


# Every metric the benchmark prints, with its unit; BENCHMARK.json lists
# the same names. End-to-end metrics come from untraced runs (--trace 0),
# layer metrics from traced runs (--trace 1). A run times 3-13 ops, too
# few for any percentile above the median to have ten samples beyond it,
# so the op latency is reported as a median only.
E2E_METRICS = {"setup_s": "s", "pass_s": "s", "op_p50_ms": "ms"}
LAYER_METRICS = {
    "session.start_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.plan_s": "s",
    "operators.jobs": "count",
    "operators.stages": "count",
    "operators.tasks": "count",
    "operators.executor_run_s": "s",
    "operators.executor_cpu_s": "s",
    "operators.slot_busy": "ratio",
    "operators.driver_gap_s": "s",
    "operators.shuffle_write_bytes": "bytes",
    "operators.shuffle_read_bytes": "bytes",
    "operators.spill_bytes": "bytes",
    "operators.collect_s": "s",
    "operators.rows_returned": "count",
    "operators.persist_leaked": "count",
    "operators.warm_s": "s",
    "sources.geojson.scan_s": "s",
    "sources.geojson.input_bytes": "bytes",
    "functions.geometry.kernel_s": "s",
    "functions.geometry.vertices_in": "count",
    "functions.geometry.vertices_out": "count",
    "operators.wilayah.ingest_s": "s",
    "operators.wilayah.merge_s": "s",
    "operators.wilayah.files_added": "count",
    "operators.wilayah.files_removed": "count",
    "operators.wilayah.rows_rewritten_per_row_synced": "ratio",
    "operators.wilayah.space_amp": "ratio",
    "operators.wilayah.load_s": "s",
    "operators.wilayah.files_read_ratio": "ratio",
    "trace.pass_s": "s",
    "trace.overhead_s": "s",
    "trace.op_self_s": "s",
}


def nproc() -> int:
    """Cores this process may run on (what `nproc` prints)."""
    return len(os.sched_getaffinity(0))


def median(xs: list[float]) -> float:
    return statistics.median(xs)


def error_text(phase: str, exc: BaseException) -> str:
    """How a failed op is reported: the phase it failed in, then the error."""
    return f"{phase}: {type(exc).__name__}: {exc}"[:500]


@dataclass
class Op:
    """One timed operation. `seconds` is None when any phase failed."""

    kind: str
    family: str
    pass_no: int
    seconds: float | None = None
    error: str | None = None


@dataclass
class Run:
    workload: str
    seed: int
    seconds: int
    trace: bool
    ops: list[Op] = field(default_factory=list)
    metrics: dict[str, tuple[float, str]] = field(default_factory=dict)
    detail: dict = field(default_factory=dict)
    spark: object = None

    def __post_init__(self) -> None:
        self.work = os.path.join(ROOT, ".perfbench", f"{self.workload}-{self.seed}-{os.getpid()}")
        # Half the cores run tasks; the other half stay free for what runs
        # beside them (the driver JVM's compiler and GC threads, the Python
        # driver, Python workers), so a run does not contend with itself.
        # The workloads are driver-bound: on a 4-core VM, 2 task slots kept
        # their pass time and cut the spread of pass_s over five seeds
        # (IQR / median) from 0.22-0.29 to 0.08-0.11.
        self.cores = max(1, nproc() // 2)

    # -- environment -------------------------------------------------------
    def prepare(self) -> None:
        """Point every scratch location of Spark and Python into the
        checkout and pin the engine to the run's task slots. Must
        run before the engine package is imported: its session module
        reads SPARK_GRAFT_CPUS at import time."""
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ.update(
            SPARK_GRAFT_CPUS=str(self.cores),
            SPARK_LOCAL_DIRS=os.path.join(self.work, "spark-local"),
            TMPDIR=tmp,
            TZ="UTC",
            PYSPARK_PYTHON=sys.executable,
            # every JVM Spark starts: temp files here, no /tmp/hsperfdata
            JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={shlex.quote(tmp)}",
        )
        os.environ.pop("SPARK_TESTING", None)  # it would switch the UI (and REST API) off
        time.tzset()
        if ROOT not in sys.path:
            sys.path.insert(0, ROOT)

    def start_spark(self) -> float:
        from wilayah_aceh_etl_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench",
            master=f"local[{self.cores}]",
            **{
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    def stop(self) -> None:
        """Stop Spark, wait for its JVM (and with it the Python workers)
        to exit, and remove the run's scratch tree."""
        if self.spark is not None:
            from pyspark import SparkContext

            gateway = SparkContext._gateway
            self.spark.stop()
            proc = getattr(gateway, "proc", None)
            if gateway is not None:
                gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            self.spark = None
        shutil.rmtree(self.work, ignore_errors=True)
        parent = os.path.dirname(self.work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)

    # -- engine state ------------------------------------------------------
    def cold_reset(self) -> None:
        """Drop every cached result, so the next op computes from its
        inputs: Spark's CacheManager always, and the engine's own result
        memos through `cachectl` for as long as that module exists."""
        self.spark.catalog.clearCache()
        if importlib.util.find_spec(f"{PACKAGE}.cachectl") is not None:
            from wilayah_aceh_etl_spark import cachectl

            cachectl.clear_computed_caches(self.spark)

    def persisted(self) -> int:
        return self.spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    # -- context for the numbers --------------------------------------------
    def calibrate(self) -> float:
        """Fixed probe: median of 3 timed `spark.range(1e8)` sums after
        one untimed run. Its work never changes, so its drift between
        runs is the machine's, not the program's."""
        def probe():
            self.spark.range(100_000_000).selectExpr("sum(id * (id % 7)) AS s").collect()

        probe()
        times = []
        for _ in range(3):
            t0 = time.perf_counter()
            probe()
            times.append(time.perf_counter() - t0)
        return median(times)

    def environment(self) -> dict:
        import pyspark

        jvm = self.spark.sparkContext._jvm
        return {
            "nproc": nproc(),
            "task_slots": self.cores,
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "pyspark": pyspark.__version__,
            "java": jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
            "loadavg": list(os.getloadavg()),
        }

    # -- results -----------------------------------------------------------
    def record(self, name: str, value: float, unit: str) -> None:
        catalogue = LAYER_METRICS if self.trace else E2E_METRICS
        if catalogue.get(name) != unit:
            raise KeyError(f"metric {name} [{unit}] is not in the catalogue")
        self.metrics[name] = (value, unit)

    def record_op_layers(self, recs: list[dict], session_s: float) -> None:
        """session, plans and operators totals over the traced ops; a
        key an op lacks (a sync has no separate plan step) adds 0."""
        def total(key: str) -> float:
            return sum(rec.get(key, 0) for rec in recs)

        self.record("session.start_s", session_s, "s")
        for name, unit in LAYER_METRICS.items():
            layer, _, key = name.rpartition(".")
            if layer in ("plans", "operators") and key != "slot_busy":
                self.record(name, total(key), unit)
        wall = total("action_s")
        self.record("operators.slot_busy",
                    total("executor_run_s") / (wall * self.cores) if wall else 0.0, "ratio")

    def write_spans(self, tracer) -> str:
        """Spans outlive the run's scratch tree: .perfbench/traces/."""
        out = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(out, exist_ok=True)
        path = os.path.join(out, f"{self.workload}-{self.seed}.json")
        tracer.write(path)
        return os.path.relpath(path, ROOT)

    @property
    def failed_ops(self) -> list[Op]:
        return [op for op in self.ops if op.error is not None]

    def pass_sums(self) -> list[float]:
        """Per pass, the summed seconds of its ops. A failed op is left
        out of every figure; a pass with a failed op is left out while
        any pass is complete."""
        passes = sorted({op.pass_no for op in self.ops})
        complete = [p for p in passes if all(op.error is None for op in self.ops if op.pass_no == p)]
        self.detail["passes"] = {"run": len(passes), "complete": len(complete)}
        return [sum(op.seconds for op in self.ops if op.pass_no == p and op.error is None)
                for p in complete or passes]

    def record_e2e(self, setup_s: float) -> None:
        ok = [op.seconds for op in self.ops if op.error is None]
        self.record("setup_s", setup_s, "s")
        self.record("pass_s", median(self.pass_sums()), "s")
        self.record("op_p50_ms", 1e3 * median(ok), "ms")
        self.detail.setdefault("workload_metrics", {})["failed_ratio"] = {
            "value": (len(self.ops) - len(ok)) / len(self.ops), "unit": "ratio",
            "samples": len(self.ops)}
