"""Settings, metric names and helpers shared by the workloads."""

from __future__ import annotations

import math
import os
import tempfile
import time

# Fixed session settings: local[SPARK_GRAFT_CPUS] (nproc unless the
# caller asks for the single-core reference) and an explicit driver
# heap that fits a 15 GB machine (the program's own default is 48g).
DRIVER_MEMORY = "4g"

# End-to-end metrics: every workload reports each of them. An "op" is
# one micro-batch (sync_*) or one query (query_mix).
E2E_UNITS = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "op_p50_s": "s",
    "scan_s": "s",
}

QUERY_LAYER_KEYS = ("build_s", "plan_s", "exec_s", "jobs_build", "jobs_exec", "stages")
QUERY_FAMILIES = {
    "relational": (
        "q1_pricing_summary",
        "q5_local_supplier",
        "q18_large_orders",
        "cdc_apply",
        "cdc_merge_into",
    ),
    "iterative": ("graph_pagerank",),
}


def layer_units() -> dict[str, str]:
    """Every per-layer metric, in report order, with its unit. A traced
    run reports all of them; a layer the workload does not run reads 0."""
    u = {
        "sources.parse_s": "s",
        "sources.envelopes_in": "count",
        "sources.change_rows_out": "count",
        "sources.dropped_frac": "ratio",
        "operators.cdc.compact_s": "s",
        "operators.cdc.compaction_ratio": "ratio",
        "operators.cdc.apply_s": "s",
        "operators.cdc.shuffle_bytes": "B",
    }
    sp = "streaming.pipeline."
    u.update(
        {
            sp + "batches": "count",
            sp + "add_batch_s": "s",
            sp + "add_batch_total_s": "s",
            sp + "trigger_overhead_s": "s",
            sp + "jobs_per_batch": "count",
            sp + "jobs_total": "count",
            sp + "stages_per_batch": "count",
            sp + "tasks_per_batch": "count",
            sp + "job_s_per_batch": "s",
            sp + "write_job_s": "s",
            sp + "driver_s_per_batch": "s",
            sp + "source_read_ratio": "ratio",
            sp + "buckets_rewritten_per_batch": "count",
            sp + "rows_rewritten_per_event": "rows/event",
            sp + "bytes_written_per_event": "B/event",
            sp + "state_files": "count",
        }
    )
    for fam in QUERY_FAMILIES:
        for k in QUERY_LAYER_KEYS:
            u[f"queries.{fam}.{k}"] = "s" if k.endswith("_s") else "count"
    for qs in QUERY_FAMILIES.values():
        for q in qs:
            u[f"queries.{q}.wall_s"] = "s"
            u[f"queries.{q}.jobs"] = "count"
    for k in ("jobs", "stages", "tasks"):
        u[f"session.{k}"] = "count"
    u["session.one_task_stage_s"] = "s"
    for k in ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
        u[f"session.{k}"] = "B"
    u["session.gc_s"] = "s"
    u["session.executor_cpu_s"] = "s"
    u["session.busy_frac"] = "ratio"
    u["session.peak_rss_mb"] = "MB"
    return u


class Laps:
    """Named consecutive wall-time laps (the set-up phases)."""

    def __init__(self) -> None:
        self.t0 = self.t = time.perf_counter()
        self.laps: dict[str, float] = {}

    def lap(self, name: str) -> None:
        now = time.perf_counter()
        self.laps[name] = round(now - self.t, 3)
        self.t = now

    @property
    def total(self) -> float:
        return self.t - self.t0


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (``q`` in [0, 1]); 0 when empty."""
    v = sorted(values)
    if not v:
        return 0.0
    pos = (len(v) - 1) * q
    lo, hi = math.floor(pos), math.ceil(pos)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def fits(t0: float, done: int, seconds: float) -> bool:
    """Whether one more unit of work (a batch or a query, with the scans
    after it), at the mean duration of the ``done`` units since ``t0``, still
    ends within ``seconds``. Runs measure whole units only, so their
    count moves by one when a unit's duration crosses
    ``seconds / (done + 1)``."""
    elapsed = time.perf_counter() - t0
    return elapsed + elapsed / done <= seconds


def start_session(cores: int, work: str):
    """The program's own session factory, with every scratch path
    inside ``work``."""
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # temp files of this process (the JVM gateway's connection file) too
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    from bireme_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # no hsperfdata file in the system temp dir
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark() -> None:
    """Stop the Spark session, if any, and wait for its JVM to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None and getattr(gateway, "proc", None) is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=60)


def peak_rss_mb(spark) -> float:
    """High-water resident memory of this process plus the Spark JVM."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    total = 0
    for pid in ("self", str(jvm_pid)):
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024.0


def scan_s(frames) -> float:
    """Wall of one full scan of ``frames()`` (a callable returning the
    DataFrames to read, so that opening them is timed too) into the
    ``noop`` sink."""
    t = time.perf_counter()
    for df in frames():
        df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t
