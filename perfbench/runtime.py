"""Process-level plumbing: the checkout-local scratch tree, the Spark
session, and the /proc process-tree RSS sampler."""

from __future__ import annotations

import os
import threading
import time

WORK = os.path.join(".bench_build", "perfbench")
HEAP = "2g"
RSS_PERIOD_S = 0.1


def cores() -> int:
    return len(os.sched_getaffinity(0))


def scratch_dirs(root: str) -> dict[str, str]:
    """Per-process scratch under the checkout; TMPDIR points at it so
    Spark, the package zip and the Python workers write nowhere else."""
    base = os.path.join(root, WORK)
    tmp = os.path.join(base, f"tmp-{os.getpid()}")
    dirs = {"base": base, "tmp": tmp, "events": os.path.join(tmp, "events"),
            "trace": os.path.join(base, "trace")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return dirs


def start_spark(tmp: str, event_dir: str | None = None):
    from pyspark.sql import SparkSession

    n = cores()
    b = (SparkSession.builder.master(f"local[{n}]")
         .appName("swish-e-spark-perfbench")
         .config("spark.sql.shuffle.partitions", str(2 * n))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.driver.memory", HEAP)
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.local.dir", tmp)
         # a pre-touched fixed heap keeps the JVM's share of the peak
         # RSS constant, so peak_rss_mb moves with what the engine
         # holds outside the heap and in Python, not with GC timing
         .config("spark.driver.extraJavaOptions",
                 f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{HEAP} "
                 "-XX:+AlwaysPreTouch"))
    if event_dir:
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", "file://"
                     + os.path.abspath(event_dir))
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the context and the JVM gateway, then wait until the JVM
    and every Python worker it spawned have exited."""
    from pyspark import SparkContext

    spawned = descendants(os.getpid())
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits on stdin EOF
            proc.wait(timeout=60)
    deadline = time.time() + 60
    while any(_alive(p) for p in spawned) and time.time() < deadline:
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rfind(b")") + 2:][:1] not in (b"Z", b"X")


def _proc_table(page: int):
    """(children by parent pid, RSS bytes by pid). A child whose virtual
    size is within 1% of its parent's has not exec'd or allocated since
    it was spawned: it shares the parent's pages (the same address space
    after CLONE_VM, copy-on-write after fork), so it is given 0 and the
    peak does not count the JVM twice while the JVM spawns a Python
    worker. (Not equality: the parent's threads map memory between the
    two reads.)"""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    vsize: dict[int, int] = {}
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue  # exited between listdir and open
        fields = stat[stat.rfind(b")") + 2:].split()
        pid = int(name)
        parent[pid] = int(fields[1])
        children.setdefault(parent[pid], []).append(pid)
        vsize[pid] = int(fields[20])
        rss[pid] = int(fields[21]) * page
    for pid, ppid in parent.items():
        if abs(vsize.get(ppid, 0) - vsize[pid]) <= vsize[pid] // 100:
            rss[pid] = 0
    return children, rss


def _tree(root_pid: int, children) -> list[int]:
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def descendants(pid: int) -> list[int]:
    return _tree(pid, _proc_table(1)[0])[1:]


class RssSampler:
    """Peak resident set of this process and all its descendants (the
    JVM and the Python workers), sampled from /proc every
    ``RSS_PERIOD_S``."""

    def __init__(self):
        self.peak = 0
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(RSS_PERIOD_S)

    def sample(self) -> None:
        children, rss = _proc_table(self._page)
        total = sum(rss.get(p, 0) for p in _tree(os.getpid(), children))
        self.peak = max(self.peak, total)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
