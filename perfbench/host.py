"""Host shape, host probes, Spark process lifecycle and RSS sampling.

Everything the benchmark needs to run the program on this host without
changing it: the session is built by the program's own ``build_session``;
cores, driver memory, local dirs and the traced run's event log are set
from outside, through the program's environment knobs and a generated
``SPARK_CONF_DIR``.
"""

from __future__ import annotations

import os
import threading
import time


def host_shape() -> dict:
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {
        "vcpus": len(os.sched_getaffinity(0)),
        "ram_gb": round(mem_kb / 1024 / 1024, 1),
    }


def probes() -> dict:
    """The repository's calibrated host probes (bench.py)."""
    from bench import host_probe_parallel_s, host_probe_s

    n = len(os.sched_getaffinity(0))
    return {
        "host_probe_s": host_probe_s(),
        f"host_probe_parallel_s({n})": host_probe_parallel_s(n),
    }


def spark_settings(ram_gb: float, vcpus: int) -> dict:
    """Session knobs that fit the host: every vCPU, a driver heap of a
    quarter of RAM capped at 1 GB.  A 2 GB heap measured the same GC time
    and docs/s on ``articles_uniform`` (README.md, "Host fit"); the Python
    workers and the page cache get the rest."""
    heap_mb = int(min(1024, ram_gb * 1024 / 4))
    return {"SPARK_GRAFT_CPUS": str(vcpus), "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m"}


def configure_spark(root: str, work: str, settings: dict, event_log_dir: str | None) -> None:
    """Export the env the JVM launch reads (cores, driver heap, local and
    temp dirs inside ``work``, the program on the workers' path, and the
    event log when ``event_log_dir`` is given).  Applies to the JVMs
    launched after it."""
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    conf_dir = os.path.join(work, "conf")
    for d in (local, tmp, conf_dir):
        os.makedirs(d, exist_ok=True)
    # The heap is committed and touched at launch (-Xms = heap), so the
    # JVM's resident size does not swing with GC heap sizing from run to run;
    # -XX:-UsePerfData keeps the JVM from writing /tmp/hsperfdata_*.
    heap = settings["SPARK_GRAFT_DRIVER_MEM"]
    java_opts = f"-Djava.io.tmpdir={tmp} -Xms{heap} -XX:+AlwaysPreTouch -XX:-UsePerfData"
    lines = [
        "spark.ui.showConsoleProgress false",
        f"spark.driver.extraJavaOptions {java_opts}",
    ]
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        lines += [
            "spark.eventLog.enabled true",
            f"spark.eventLog.dir file://{event_log_dir}",
            "spark.eventLog.compress false",
        ]
    with open(os.path.join(conf_dir, "spark-defaults.conf"), "w") as f:
        f.write("\n".join(lines) + "\n")
    pythonpath = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p and p != root]
    os.environ.update(settings)
    os.environ.update({
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",  # the spark-submit launcher's own JVM
        "SPARK_CONF_DIR": conf_dir,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join([root] + pythonpath),
    })


class SparkProcess:
    """One JVM at a time: ``start`` builds the program's session, which
    launches the JVM; ``close`` stops the session and waits until the JVM
    and its Python workers have exited."""

    def __init__(self) -> None:
        self.spark = None

    def start(self):
        from go_readability_spark.spark.session import build_session

        self.spark = build_session(app_name="perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    @property
    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def close(self) -> None:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        tree = [] if proc is None else [proc.pid] + descendants(proc.pid)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway server exits when stdin closes
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
        wait_exited(tree, 60)


def _children() -> dict[int, int]:
    """pid -> ppid for every process on the host."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        out[int(name)] = int(stat[stat.rindex(")") + 2:].split()[1])
    return out


def descendants(root: int) -> list[int]:
    parent = _children()
    kids: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        kids.setdefault(ppid, []).append(pid)
    out, stack = [], [root]
    while stack:
        for c in kids.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def _running(pid: int) -> bool:
    """The process exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def wait_exited(pids: list[int], timeout: float) -> None:
    """Wait until each of ``pids`` (the JVM and the processes below it) has
    exited; the JVM's children are re-parented when it exits."""
    deadline = time.monotonic() + timeout
    while any(_running(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.05)
    left = [p for p in pids if _running(p)]
    if left:
        raise RuntimeError(f"processes still running after {timeout}s: {left}")


def wait_children(timeout: float) -> None:
    """Wait until every process this one started has exited."""
    deadline = time.monotonic() + timeout
    while descendants(os.getpid()) and time.monotonic() < deadline:
        for pid in descendants(os.getpid()):
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.1)
    left = descendants(os.getpid())
    if left:
        raise RuntimeError(f"processes still running after {timeout}s: {left}")


def _memory_mb(pid: int) -> tuple[float, float, bool]:
    """(RSS, PSS, is a Python process) of one process in MB; zeros if it
    is gone.  PSS divides each shared page among the processes mapping it,
    so summing it does not count the pages forked workers share with the
    PySpark daemon once per worker."""
    rss = pss = 0
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Rss:"):
                    rss = int(line.split()[1])
                elif line.startswith("Pss:"):
                    pss = int(line.split()[1])
        with open(f"/proc/{pid}/comm") as f:
            comm = f.read()
    except OSError:
        return 0.0, 0.0, False
    return rss / 1024, pss / 1024, comm.startswith("python")


class RssSampler:
    """Polls the memory of the JVM and of every process below it (the
    PySpark daemon and its forked Python workers) while running: the
    largest RSS of one Python process, and the largest summed PSS."""

    def __init__(self, jvm_pid: int, period_s: float = 0.05) -> None:
        self.jvm_pid = jvm_pid
        self.period_s = period_s
        self.peak_worker_mb = 0.0
        self.peak_total_mb = 0.0
        self.max_python_procs = 0
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            _, total, _ = _memory_mb(self.jvm_pid)
            n_py = 0
            for pid in descendants(self.jvm_pid):
                rss, pss, is_py = _memory_mb(pid)
                total += pss
                if is_py:
                    n_py += 1
                    self.peak_worker_mb = max(self.peak_worker_mb, rss)
            self.peak_total_mb = max(self.peak_total_mb, total)
            self.max_python_procs = max(self.max_python_procs, n_py)
            self.samples += 1
            self._stop.wait(self.period_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
