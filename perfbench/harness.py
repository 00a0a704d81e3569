"""Run context shared by the workloads: paths inside the checkout, the
Spark session the program builds, memory readings and small statistics.

Everything a run writes lands under ``<checkout>/.perfbench_run/``: the
generated inputs, Spark's local and temp directories, Python's temp
directory and the trace file.
"""

from __future__ import annotations

import os
import shutil
import statistics

#: extra session settings of the benchmark itself: quiet console, all
#: scratch inside the run directory, and a status store that keeps every
#: job and stage of a run so traced operations can be read back whole.
def session_conf(run_dir: str) -> dict:
    tmp = os.path.join(run_dir, "jvm-tmp")
    os.makedirs(tmp, exist_ok=True)
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }


class Context:
    """Per-run state: where to write, the seed, and the Spark session."""

    def __init__(self, root: str, workload: str, seed: int):
        self.root = root
        self.workload = workload
        self.seed = seed
        self.run_dir = os.path.join(root, ".perfbench_run", f"{workload}-s{seed}-p{os.getpid()}")
        os.makedirs(self.run_dir, exist_ok=True)
        self.spark = None
        self._jvm_proc = None

    def path(self, *parts) -> str:
        return os.path.join(self.run_dir, *parts)

    # -- Spark -----------------------------------------------------------

    def start_spark(self):
        """(Re)start the session through the program's own factory."""
        from xsd2json_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark(app_name=f"perfbench-{self.workload}", extra_conf=session_conf(self.run_dir))
        self.spark.sparkContext.setLogLevel("ERROR")
        if self._jvm_proc is None:
            self._jvm_proc = self.spark.sparkContext._gateway.proc
        return self.spark

    def stop_spark(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        proc = self._jvm_proc
        if proc is not None:
            # the gateway JVM exits when its stdin closes
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()

    # -- memory ----------------------------------------------------------

    def peak_rss_mb(self) -> float:
        """VmHWM of this process plus the Spark JVM, in MiB."""
        total = _vm_hwm_kb("self")
        if self._jvm_proc is not None and self._jvm_proc.poll() is None:
            total += _vm_hwm_kb(str(self._jvm_proc.pid))
        return total / 1024

    def cleanup(self) -> None:
        shutil.rmtree(self.run_dir, ignore_errors=True)


def _vm_hwm_kb(pid: str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def mean(xs) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def dir_bytes(path: str) -> "tuple[int, int]":
    """(bytes, files) under ``path``, Spark's checksum files excluded."""
    total = files = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".crc"):
                continue
            total += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return total, files
