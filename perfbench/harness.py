"""Process-level plumbing: a Spark session whose scratch files stay inside
the checkout, peak RSS of the whole process tree, and host noise
telemetry.

Everything the benchmark writes lives under ``<checkout>/.perfbench``.
``session.get_spark`` zips the package into a fixed location under the
system temp directory; the benchmark points that zip step at its own work
directory instead, so a run never writes outside the checkout.
"""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import time
import zipfile

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench")
MASTER = "local[4]"  # pinned: the job is the same on any machine
CORES = 4


def make_workdir(tag: str) -> str:
    """Fresh per-run directory; also routes temp files of this process and
    its children (JVM, Python workers) into it."""
    d = os.path.join(WORK_ROOT, f"{tag}-{os.getpid()}")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(os.path.join(d, "tmp"))
    os.environ["TMPDIR"] = os.path.join(d, "tmp")
    return d


def _package_zip(work: str) -> str:
    pkg = os.path.join(ROOT, "elasticsearch_spark")
    out = os.path.join(work, "elasticsearch_spark_pkg.zip")
    with zipfile.ZipFile(out, "w") as z:
        for dp, _, fs in os.walk(pkg):
            for f in fs:
                if f.endswith(".py"):
                    p = os.path.join(dp, f)
                    z.write(p, os.path.relpath(p, ROOT))
    return out


def start_spark(work: str, event_dir: str | None = None):
    """SparkSession through ``session.get_spark`` on ``local[4]``. With
    ``event_dir`` the Spark event log is written there, uncompressed."""
    from elasticsearch_spark import session

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # every JVM the session launches (spark-submit's launcher too) keeps its
    # temp files in the work directory and writes no hsperfdata file
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    zip_path = _package_zip(work)
    session._package_zip = lambda: zip_path
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if event_dir is not None:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = session.get_spark(app_name="perfbench", master=MASTER,
                              shuffle_partitions=8, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the active SparkContext, then the py4j gateway JVM, and wait for
    it and every process under it (the Python daemon and workers, stopped
    with the context) to exit."""
    from pyspark import SparkContext

    spawned = _descendants()  # listed now: they are orphaned once the JVM exits
    try:
        _stop_gateway(SparkContext)
    finally:
        _wait_gone(spawned)


def _stop_gateway(SparkContext) -> None:
    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name, or None."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def _descendants() -> list[tuple[int, str]]:
    """(pid, start time) of every live descendant of this process; the start
    time tells a reused pid apart."""
    kids, out, todo = _children(), [], [os.getpid()]
    while todo:
        for k in kids.get(todo.pop(), []):
            st = _stat(k)
            if st:
                out.append((k, st[19]))
            todo.append(k)
    return out


def _alive(proc: tuple[int, str]) -> bool:
    st = _stat(proc[0])
    return st is not None and st[19] == proc[1] and st[0] != "Z"


def _wait_gone(procs: list[tuple[int, str]], timeout_s: float = 20.0) -> None:
    """Wait until each process has exited; kill what is left at the timeout
    and wait for that too."""
    deadline = time.monotonic() + timeout_s
    while any(map(_alive, procs)) and time.monotonic() < deadline:
        time.sleep(0.05)
    for p in filter(_alive, procs):
        try:
            os.kill(p[0], signal.SIGKILL)
        except OSError:
            pass
    while any(map(_alive, procs)) and time.monotonic() < deadline + 5:
        time.sleep(0.05)


# --- peak RSS of the process tree ------------------------------------------

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_cpu_s() -> float:
    """CPU time (user + system, with reaped children) used so far by this
    process and all its live descendants — driver, JVM and Python
    workers. Time the hypervisor steals from the VM is not in it."""
    kids = _children()
    total, todo = 0, [os.getpid()]
    while todo:
        p = todo.pop()
        todo.extend(kids.get(p, []))
        st = _stat(p)
        if st:
            total += sum(int(x) for x in st[11:15])  # utime stime cutime cstime
    return total / os.sysconf("SC_CLK_TCK")


def tree_peak_rss_mb() -> dict[str, float]:
    """Peak resident size (the kernel's VmHWM) of this process and all its
    live descendants — driver, JVM and Python workers — summed per command
    name, in MiB."""
    kids = _children()
    out: dict[str, float] = {}
    todo = [os.getpid()]
    while todo:
        p = todo.pop()
        todo.extend(kids.get(p, []))
        try:
            with open(f"/proc/{p}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        if "VmHWM" in fields:
            name = fields["Name"].strip()
            out[name] = out.get(name, 0.0) + int(fields["VmHWM"].split()[0]) / 1024
    return out


# --- host noise telemetry ----------------------------------------------------

def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def membw_probe_s(mb: int = 64, passes: int = 5) -> float:
    """Seconds for ``passes`` streaming passes over an ``mb`` MiB array —
    the memory-bandwidth probe documented in BENCH/BASELINE.md, scaled
    down. A healthy host reads ~0.05-0.2 s at the defaults."""
    a = np.zeros(mb * 2**20 // 8)
    t0 = time.perf_counter()
    for _ in range(passes):
        a += 1.0
    return time.perf_counter() - t0


class HostTelemetry:
    """CPU steal share over the run (from /proc/stat) and the bandwidth
    probe before and after. Environment fields, not metrics."""

    def __enter__(self) -> "HostTelemetry":
        self.membw_before_s = membw_probe_s()
        self._t0 = _cpu_times()
        return self

    def __exit__(self, *exc) -> None:
        t1 = _cpu_times()
        self.membw_after_s = membw_probe_s()
        d = [b - a for a, b in zip(self._t0, t1)]
        self.steal_share = d[7] / sum(d) if len(d) > 7 and sum(d) else 0.0

    def fields(self) -> dict:
        return {
            "membw_probe_before_s": round(self.membw_before_s, 4),
            "membw_probe_after_s": round(self.membw_after_s, 4),
            "cpu_steal_share": round(self.steal_share, 5),
        }
