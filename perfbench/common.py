"""Run plumbing shared by the workloads: statistics, the process-tree RSS
sampler, the Spark session lifecycle and the result record."""

from __future__ import annotations

import os
import re
import shutil
import signal
import sys
import statistics
import threading
import time
from dataclasses import dataclass, field

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def median(values) -> float:
    vals = list(values)
    if not vals:
        raise ValueError("median of no samples")
    return float(statistics.median(vals))


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # pragma: no cover - non-Linux
        return os.cpu_count() or 1


# ------------------------------------------------------------ process tree


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, stack = [], [pid]
    while stack:
        for child in kids.get(stack.pop(), []):
            out.append(child)
            stack.append(child)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Samples the summed RSS of this process and all its descendants (the
    JVM and its Python workers) every ``interval`` seconds."""

    def __init__(self, interval: float = 0.25) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_rss_bytes(p) for p in [me, *descendants(me)])
            self.peak = max(self.peak, total)
            self._stop.wait(self.interval)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


# ------------------------------------------------------------ the session


@dataclass
class Run:
    """One benchmark process: its arguments, work directory and session."""

    workload: str
    seed: int
    seconds: float
    trace: bool
    root: str  # the checkout the benchmark runs from
    work: str = ""
    spark: object = None
    t_start: float = field(default_factory=time.monotonic)
    attempted: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)
    metrics: dict = field(default_factory=dict)  # name -> (value, unit)

    def record(self, ok: bool, what: str = "") -> None:
        """Count one checked operation."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.problems) < 20:
                self.problems.append(what)

    def metric(self, name: str, value: float, unit: str) -> None:
        if not NAME_RE.match(name):
            raise ValueError(f"bad metric name {name!r}")
        self.metrics[name] = (float(value), unit)

    def log(self, msg: str) -> None:
        print(f"perfbench [{time.monotonic() - self.t_start:6.1f}s] {msg}", file=sys.stderr,
              flush=True)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


def start_session(run: Run, extra: dict | None = None):
    """Start Spark with every scratch location inside the run's work dir."""
    for sub in ("local", "tmp", "warehouse", "events"):
        os.makedirs(run.path(sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = run.path("local")
    os.environ["TMPDIR"] = run.path("tmp")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    # fixed string hashing in the Python workers: dict and set layouts (the
    # Aho-Corasick automaton's among them) are then the same in every run
    os.environ["PYTHONHASHSEED"] = "0"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (run.root, os.environ.get("PYTHONPATH", "")) if p
    )
    from sssom_curator_spark.session import ENGINE_CONFIGS, get_spark

    slots = cpu_count()
    java_opts = (
        f"{ENGINE_CONFIGS['spark.driver.extraJavaOptions']} -XX:-UsePerfData "
        f"-Djava.io.tmpdir={run.path('tmp')}"
    )
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.shuffle.partitions": str(max(16, 2 * slots)),
        "spark.local.dir": run.path("local"),
        "spark.sql.warehouse.dir": run.path("warehouse"),
        "spark.driver.extraJavaOptions": java_opts,
        "spark.executor.extraJavaOptions": java_opts,
    }
    if run.trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": run.path("events"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    conf.update(extra or {})
    run.spark = get_spark(app_name=f"perfbench-{run.workload}", master=f"local[{slots}]", extra=conf)
    run.spark.sparkContext.setLogLevel("ERROR")
    return run.spark


def stop_session(run: Run) -> None:
    """Stop Spark, end the JVM and its Python workers, and wait for them."""
    if run.spark is not None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None) if gateway is not None else None
        tree = descendants(os.getpid())
        try:
            run.spark.stop()
        except Exception:  # noqa: BLE001 - best effort; the JVM is ended below
            pass
        if gateway is not None:
            try:
                gateway.shutdown()
            except Exception:  # noqa: BLE001
                pass
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            try:
                proc.stdin.close()
            except Exception:  # noqa: BLE001
                pass
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + 15
        while True:
            alive = [p for p in tree if os.path.exists(f"/proc/{p}") and _not_zombie(p)]
            if not alive:
                break
            if time.monotonic() > deadline:
                for p in alive:
                    try:
                        os.kill(p, signal.SIGKILL)
                    except OSError:
                        pass
                deadline = time.monotonic() + 5
            time.sleep(0.1)
        run.spark = None


def _not_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def remove_work(run: Run) -> None:
    if run.work:
        shutil.rmtree(run.work, ignore_errors=True)
