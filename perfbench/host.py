"""Host fitting, Spark session lifecycle and process-tree memory sampling.

Everything the benchmark writes lives under ``WORK`` inside the
checkout: inputs, Spark local dirs, temp files, event logs and spans.
"""

from __future__ import annotations

import os
import signal
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
SLOTS = 4  # task slots of the local[N] master; fixed so runs compare across hosts


def process_age_s() -> float:
    """Seconds since this process was started (from /proc, not from
    interpreter start, so interpreter boot and imports are counted)."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])  # field 22 of proc(5): starttime
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def fit_host() -> dict:
    """Set, and return, the environment that fits one local[SLOTS] run
    to this host.

    The program's own default JVM heap is sized for a large box;
    here it is an eighth of physical memory, clamped to [1, 1.5] GiB:
    ample for these inputs, and small enough that the heap grows to its
    cap in every run, so peak RSS compares across runs."""
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    heap_mb = min(1536, max(1024, phys_mb // 8))
    tmp = os.path.join(WORK, "tmp")
    pythonpath = os.environ.get("PYTHONPATH")
    settings = {
        "SPARK_GRAFT_CPUS": str(SLOTS),
        "SPARK_DRIVER_MEM": f"{heap_mb}m",
        # pandas-UDF workers import the package by name; without the
        # checkout on their path every such task fails outside the root
        "PYTHONPATH": ROOT + (os.pathsep + pythonpath if pythonpath else ""),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    os.environ.update(settings)
    for key in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        os.makedirs(settings[key], exist_ok=True)
    return settings


def start_session(extra_conf: dict | None = None):
    import __spark_entry__ as entry
    from photo_dedup_spark.session import build_session

    spark = build_session(
        app_name="perfbench",
        master=f"local[{SLOTS}]",
        config=entry.ENTRY_CONFIG,
        extra_conf={"spark.ui.showConsoleProgress": "false", **(extra_conf or {})},
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    return proc.pid if proc is not None else None


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, ValueError, IndexError):
        return 0


def tree_cpu_s(pid: int) -> float:
    """CPU seconds used so far by this process plus *pid* and every
    process it forked (reaped children included).  Unlike wall time it
    does not grow when the host steals CPU from this machine."""
    total = 0
    for p in descendants(pid):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    own = os.times()
    return total / os.sysconf("SC_CLK_TCK") + own.user + own.system


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def stop_session(spark) -> None:
    """Stop Spark and the JVM it runs in, and wait for the JVM and the
    Python workers it forked to exit."""
    from pyspark import SparkContext

    pid = jvm_pid()
    tree = descendants(pid) if pid else []
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    for p in tree:
        while _alive(p):
            if time.monotonic() > deadline:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
                break
            time.sleep(0.05)


class RssSampler:
    """Peak resident memory of the Spark JVM plus every process it
    forked (the Python workers), sampled every ``period`` seconds."""

    def __init__(self, pid: int, period: float = 0.2):
        self.pid, self.period = pid, period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            total = sum(_rss_bytes(p) for p in descendants(self.pid))
            self.peak = max(self.peak, total)
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20
