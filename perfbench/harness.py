"""Run context shared by the workloads: a host-sized, side-effect-free
Spark session, the Spark runtime and process counters, and the result
line.

Every run works in a fresh directory under ``perfbench/.work/`` (the
warehouse, ``SPARK_LOCAL_DIRS``, the split-layout cache, generated
inputs and temp files all live there) and removes it when it ends, so
the checkout is left as it was found.
"""

from __future__ import annotations

import json
import os
import resource
import shutil
import sys
import time
import uuid

GROUP = "perfbench"


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def host_driver_mem() -> str:
    """A driver heap that fits the host: a quarter of physical memory,
    capped at 4 GiB (the session default assumes a much larger host)."""
    total_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{max(1024, min(4096, total_mb // 4))}m"


class Run:
    def __init__(self, root: str, workload: str, seed: int, seconds: float,
                 traced: bool):
        self.root = root
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.work = os.path.join(root, "perfbench", ".work",
                                 f"{workload}-{os.getpid()}-{uuid.uuid4().hex[:8]}")
        self.spark = None
        self.tracer = None
        self.attempted = 0
        self.failed = 0
        self.checks: list[tuple[str, bool, str]] = []
        self._jobs0: set[int] = set()
        self._gc0 = 0
        self.counts0: dict[str, float] = {}
        self.counts1: dict[str, float] = {}
        self.cpus = host_cpus()

    # -- environment -------------------------------------------------------

    def configure_env(self) -> None:
        """Spark settings from outside, through the engine's environment
        variables; everything the run writes goes under ``self.work``."""
        for sub in ("tmp", "local", "tablecache", "wh", "data"):
            os.makedirs(os.path.join(self.work, sub), exist_ok=True)
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cpus)
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = host_driver_mem()
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "local")
        os.environ["SPARK_GRAFT_TABLE_CACHE"] = os.path.join(self.work, "tablecache")
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
        # Python workers import the package from any working directory
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (self.root, os.environ.get("PYTHONPATH", "")) if p)
        import tempfile

        tempfile.tempdir = None  # re-read TMPDIR

    def start_session(self):
        from risingwave_py_spark.session import build_session

        tmp = os.path.join(self.work, "tmp")
        self.spark = build_session(
            "perfbench",
            shuffle_partitions=self.cpus,
            warehouse_dir=os.path.join(self.work, "wh"),
            extra_conf={
                # temp files under the run directory; no hsperfdata in /tmp
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                "spark.ui.retainedJobs": "1000000",
                "spark.ui.retainedStages": "1000000",
            },
        )
        self.spark.sparkContext.setJobGroup(GROUP, "benchmark")
        return self.spark

    def tag_thread(self) -> None:
        """Attribute this thread's Spark jobs to the run's job group."""
        self.spark.sparkContext.setJobGroup(GROUP, "benchmark")

    # -- counters ----------------------------------------------------------

    def _job_ids(self) -> set[int]:
        return set(self.spark.sparkContext.statusTracker().getJobIdsForGroup(GROUP))

    def _gc_ms(self) -> int:
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())

    def window_start(self) -> float:
        """Mark the start of the timed window; returns its time."""
        if self.traced:
            self._jobs0 = self._job_ids()
            self._gc0 = self._gc_ms()
            self.counts0 = self.tracer.snapshot()
        return time.perf_counter()

    def window_end(self) -> float:
        """Mark the end of the timed window; returns its time."""
        if self.traced:
            self.counts1 = self.tracer.snapshot()
        return time.perf_counter()

    def window_counts(self) -> dict[str, float]:
        """Tracer counters accumulated inside the timed window."""
        return {k: v - self.counts0.get(k, 0) for k, v in self.counts1.items()}

    def spark_runtime(self, ops: int) -> dict[str, float]:
        """Jobs, stages and tasks per op submitted since window_start,
        and JVM garbage-collection time over the same interval."""
        st = self.spark.sparkContext.statusTracker()
        jobs = sorted(self._job_ids() - self._jobs0)
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                stages += 1
                si = st.getStageInfo(s)
                if si is not None:
                    tasks += si.numTasks
        n = max(1, ops)
        return {
            "spark.jobs_per_op": len(jobs) / n,
            "spark.stages_per_op": stages / n,
            "spark.tasks_per_op": tasks / n,
            "spark.jvm_gc_ms": float(self._gc_ms() - self._gc0),
        }

    def peak_rss_mb(self) -> float:
        """Peak resident memory of this Python process plus the JVM."""
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        jvm_kb = 0
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
        return (py_kb + jvm_kb) / 1024.0

    def storage(self, input_bytes: float) -> dict[str, float]:
        """Changelog and table data-file counts in the warehouse, and
        on-disk bytes per input byte."""
        cl_files = tbl_files = total = 0
        for dirpath, _, files in os.walk(os.path.join(self.work, "wh")):
            data = [f for f in files if f.endswith(".parquet")
                    and not f.startswith((".", "_"))]
            if "__rw_changelog__" in dirpath:
                cl_files += len(data)
            else:
                tbl_files += len(data)
            total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in data)
        return {
            "storage.changelog_files": float(cl_files),
            "storage.table_files": float(tbl_files),
            "storage.bytes_per_input_byte": total / input_bytes if input_bytes else 0.0,
        }

    # -- outcome -----------------------------------------------------------

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.checks.append((name, bool(ok), detail))
        print(f"check {'ok  ' if ok else 'FAIL'} {name} {detail}", file=sys.stderr)

    @property
    def correct(self) -> bool:
        return bool(self.checks) and all(ok for _, ok, _ in self.checks)

    def stop(self) -> None:
        """Stop Spark and wait for the JVM (and its Python workers) to
        exit, then remove the run directory."""
        if self.spark is not None:
            from pyspark import SparkContext

            gw = SparkContext._gateway
            self.spark.stop()
            proc = getattr(gw, "proc", None) if gw is not None else None
            if gw is not None:
                gw.shutdown()
            if proc is not None:
                try:
                    proc.stdin.close()
                    proc.wait(timeout=30)
                except Exception:  # noqa: BLE001 — still make sure it ends
                    proc.kill()
                    proc.wait(timeout=30)
            self.spark = None
        shutil.rmtree(self.work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(self.work))
        except OSError:
            pass

    def emit(self, metrics: dict[str, tuple[float, str]]) -> None:
        out = {
            "correct": self.correct,
            "attempted": max(1, int(self.attempted)),
            "failed": int(self.failed),
            "metrics": {k: {"value": float(v), "unit": u}
                        for k, (v, u) in metrics.items()},
        }
        print(json.dumps(out), flush=True)
