"""Run context shared by the workloads: work dir, Spark session, op and
check accounting, host facts."""

from __future__ import annotations

import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from contextlib import contextmanager

from tracing import Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def heap_mb() -> int:
    """Driver heap: a quarter of physical memory, between 1 and 8 GiB, so
    the JVM fits beside its Python workers on a small host. No -Xms."""
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    return max(1024, min(8192, total_kb // 4 // 1024))


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _peak_rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except FileNotFoundError:
        pass
    return 0.0


def _proc_stats() -> dict[int, list[str]]:
    """pid -> the /proc/<pid>/stat fields after the command name."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                out[int(d)] = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
    return out


def _children_of(pid: int) -> list[int]:
    return [p for p, st in _proc_stats().items() if int(st[1]) == pid]


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """CPU seconds used by ``root`` and every live descendant, including
    the children they have reaped (utime+stime+cutime+cstime)."""
    stats = _proc_stats()
    kids: dict[int, list[int]] = {}
    for pid, st in stats.items():
        kids.setdefault(int(st[1]), []).append(pid)
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        if pid in stats:
            total += sum(int(x) for x in stats[pid][11:15])
        stack.extend(kids.get(pid, []))
    return total / _TICK


def _git_sha() -> str:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")


class Bench:
    """One benchmark run: owns the work dir, the Spark session, the tracer
    and the attempted/failed accounting."""

    def __init__(self, args, t0: float):
        self.args = args
        self.t0 = t0
        self.scale = args.scale
        os.makedirs(os.path.join(ROOT, ".perfbench_work"), exist_ok=True)
        self.work = tempfile.mkdtemp(
            prefix=f"{args.workload}-", dir=os.path.join(ROOT, ".perfbench_work")
        )
        tmp = self.path("tmp")
        os.makedirs(tmp)
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # see start_spark
        tempfile.tempdir = None
        self.tracer = Tracer(args.trace == 1)
        self.attempted = 0
        self.failed = 0
        self.checks: dict[str, dict] = {}
        self.spark = None
        self.jvm_pid = None
        self.jvm_peak_rss_mb = 0.0
        self.session_start_s: list[float] = []
        self._cpu0 = _cpu_times()
        with open("/proc/loadavg") as f:
            self.loadavg = [float(x) for x in f.read().split()[:3]]

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    # -- session -----------------------------------------------------------

    def start_spark(self, cores: int):
        from gpt4ocontentextraction_spark.session import get_spark

        t = time.perf_counter()
        with self.tracer.span("session.start", cores=cores):
            self.spark = get_spark(
                f"perfbench-{self.args.workload}",
                cores=cores,
                extra_conf={
                    "spark.driver.memory": f"{heap_mb()}m",
                    "spark.local.dir": self.path("spark-local"),
                    # no hsperfdata file in /tmp: the run writes only
                    # inside its checkout
                    "spark.driver.extraJavaOptions":
                        f"-Djava.io.tmpdir={self.path('tmp')} -XX:-UsePerfData",
                    "spark.sql.warehouse.dir": self.path("warehouse"),
                    "spark.ui.showConsoleProgress": "false",
                },
            )
        self.session_start_s.append(time.perf_counter() - t)
        self.jvm_pid = self.spark.sparkContext._gateway.proc.pid
        return self.spark

    def stop_spark(self) -> None:
        """Stop Spark, end the gateway JVM and wait for it and the Python
        workers it started."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.jvm_peak_rss_mb = max(self.jvm_peak_rss_mb, _peak_rss_mb(self.jvm_pid))
        proc = SparkContext._gateway.proc
        workers = _children_of(proc.pid)
        self.spark.stop()
        SparkContext._gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        deadline = time.time() + 20
        for pid in workers:
            while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
                time.sleep(0.05)
        SparkContext._gateway = None
        SparkContext._jvm = None
        self.spark = None

    # -- accounting --------------------------------------------------------

    @contextmanager
    def op(self, name: str):
        """One attempted operation; an exception counts it failed and is
        reported on stderr, and the run goes on."""
        self.attempted += 1
        try:
            yield
        except Exception:
            self.failed += 1
            print(f"op {name} failed:", file=sys.stderr)
            traceback.print_exc()

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        """Record one check; a failed one counts as a failed op."""
        c = self.checks.setdefault(name, {"passed": 0, "failed": 0})
        c["passed" if ok else "failed"] += 1
        if not ok:
            c["detail"] = detail
            self.failed += 1
            print(f"check {name} failed: {detail}", file=sys.stderr)
        return ok

    # -- report ------------------------------------------------------------

    def host(self) -> dict:
        import duckdb
        import pyarrow
        import pyspark

        cpu1 = _cpu_times()
        delta = [b - a for a, b in zip(self._cpu0, cpu1)]
        steal = delta[7] if len(delta) > 7 else 0
        return {
            "git_sha": _git_sha(),
            "nproc": nproc(),
            "heap_mb": heap_mb(),
            "python": platform.python_version(),
            "spark": pyspark.__version__,
            "pyarrow": pyarrow.__version__,
            "duckdb": duckdb.__version__,
            "loadavg_start": self.loadavg,
            "steal_pct": round(100.0 * steal / max(sum(delta), 1), 3),
        }

    def cpu_s(self) -> float:
        """CPU seconds of this client plus the JVM and its Python workers.
        Unlike wall time, it does not grow when the hypervisor steals the
        vCPUs."""
        t = os.times()
        own = t.user + t.system
        return own + (tree_cpu_s(self.jvm_pid) if self.spark is not None else 0.0)

    def python_peak_rss_mb(self) -> float:
        return _peak_rss_mb(os.getpid())

    def close(self) -> None:
        try:
            self.stop_spark()
        finally:
            shutil.rmtree(self.work, ignore_errors=True)

    def emit(self, metrics: dict, units: dict, details: dict) -> None:
        """Print the detail line, then the result as the last stdout line."""
        info = {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "scale": self.scale,
            "trace": self.args.trace,
            "ops_attempted": self.attempted,
            "ops_failed": self.failed,
            "checks": self.checks,
            "host": self.host(),
            **details,
        }
        print(json.dumps(info, default=str))
        print(
            json.dumps(
                {
                    "correct": self.failed == 0,
                    "attempted": max(self.attempted, 1),
                    "failed": self.failed,
                    "metrics": {
                        k: {"value": metrics[k], "unit": units[k]} for k in units
                    },
                }
            ),
            flush=True,
        )
