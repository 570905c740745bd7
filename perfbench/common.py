"""Pieces shared by the workloads: the run environment, latency
summaries, process-tree memory, and the server process under test."""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)  # the checkout: the program is built from here
CPUS = os.cpu_count() or 4
READY = "OPENTICK_SPARK_LISTENING"


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


class RunDir:
    """A scratch directory inside the checkout for one run: warehouses,
    Spark local dirs, JVM and Python temp files. Removed on exit."""

    def __init__(self):
        base = os.path.join(ROOT, ".perfbench_run")
        os.makedirs(base, exist_ok=True)
        self.path = tempfile.mkdtemp(prefix="run_", dir=base)
        self.tmp = self.sub("tmp")
        self.env = dict(os.environ)
        self.env.update(
            PYTHONPATH=ROOT,  # Spark's Python workers import opentick_spark
            SPARK_GRAFT_CPUS=str(CPUS),
            SPARK_LOCAL_DIRS=self.sub("spark-local"),
            TMPDIR=self.tmp,
            JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData",
        )
        self.env.pop("SPARK_GRAFT_PERIODIC_GC", None)

    def sub(self, name: str) -> str:
        p = os.path.join(self.path, name)
        os.makedirs(p, exist_ok=True)
        return p

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(self.path))  # only when no other run is using it
        except OSError:
            pass


def summarize(samples_ms: list[float]) -> dict:
    """Median plus the highest percentile that has at least ten samples
    beyond it; the maximum when that percentile would not lie above the
    median (fewer than 23 samples)."""
    s = sorted(samples_ms)
    n = len(s)
    if n == 0:
        return {"n": 0}
    mid = s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2
    if n - 11 > n // 2:
        k = n - 11
        tail, label = s[k], f"p{100 * (k + 1) // n}"
    else:
        tail, label = s[-1], "max"
    return {"n": n, "p50": mid, "tail": tail, "tail_pct": label}


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                st = f.read()
        except OSError:
            continue
        ppid = int(st[st.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_pids(root: int, kids: dict | None = None) -> list[int]:
    kids = kids if kids is not None else _children()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


_TICK = os.sysconf("SC_CLK_TCK")


def steal_s() -> float:
    """CPU time the host took from this machine's CPUs so far."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


def _cmdline(pid: int) -> bytes:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read()
    except OSError:
        return b""


class PeakRss:
    """Samples the RSS of the process trees under test every 0.2 s and
    keeps the peaks: each tree's root process plus its JVM (the root's
    ``java`` child) in ``peak``; every other process of the tree apart in
    ``workers_peak`` — Spark's Python workers, whose number varies from
    run to run by over 1 GB, and the JVM's short-lived forks, which
    share its pages until they exec."""

    def __init__(self):
        self.roots: list[int] = []
        self.peak = 0
        self.workers_peak = 0
        self.at_peak: list = []  # (MB, command) of each process at the peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def track(self, pid: int) -> None:
        self.roots.append(pid)

    def reset(self) -> None:
        """Start the peak over: the metric covers the timed phase (whose
        process tree still holds what set-up grew, such as the JVM heap)."""
        self.peak = self.workers_peak = 0
        self.at_peak = []
        self.sample()

    def sample(self) -> None:
        main = workers = 0
        procs = []
        kids = _children()
        for r in list(self.roots):
            jvms = {
                k for k in kids.get(r, ())
                if _cmdline(k).split(b"\0", 1)[0].endswith(b"/java")
            }
            for p in tree_pids(r, kids):
                cmd, rss = _cmdline(p), _rss_bytes(p)
                if p != r and p not in jvms:
                    workers += rss
                elif rss:
                    main += rss
                    procs.append((rss >> 20, cmd.replace(b"\0", b" ")[:80].decode(errors="replace")))
        if main > self.peak:
            self.peak, self.at_peak = main, sorted(procs, reverse=True)
        self.workers_peak = max(self.workers_peak, workers)

    def _loop(self) -> None:
        while not self._stop.wait(0.2):
            self.sample()

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak / 2**20


def _group_alive(pgid: int) -> bool:
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            if os.getpgid(int(d)) == pgid:
                return True
        except OSError:
            continue
    return False


class Child:
    """A process the benchmark starts in its own process group, so the
    process and everything it spawns (the JVM, Python workers) can be
    killed and reaped together on every exit path."""

    def __init__(self, argv: list[str], run: RunDir, log_name: str):
        self.log_path = os.path.join(run.path, log_name)
        self._log = open(self.log_path, "ab")
        self.proc = subprocess.Popen(
            argv,
            cwd=ROOT,
            env=run.env,
            stdin=subprocess.DEVNULL,
            stdout=subprocess.PIPE,
            stderr=self._log,
            start_new_session=True,
            text=True,
        )
        self.pid = self.proc.pid

    def read_until(self, prefix: str, timeout: float) -> str:
        """Block until a stdout line starting with ``prefix``; raise if
        the process exits or ``timeout`` passes first."""
        box: list[str] = []

        def pump():
            for line in self.proc.stdout:
                if line.startswith(prefix):
                    box.append(line.strip())
                    break

        t = threading.Thread(target=pump, daemon=True)
        t.start()
        t.join(timeout)
        if not box:
            raise RuntimeError(
                f"{prefix!r} not seen within {timeout:.0f}s "
                f"(exit={self.proc.poll()}); see {self.log_path}: {self.tail_log()}"
            )
        return box[0]

    def tail_log(self, n: int = 600) -> str:
        try:
            with open(self.log_path, "rb") as f:
                return f.read()[-n:].decode("utf-8", "replace")
        except OSError:
            return ""

    def signal(self, sig: int) -> None:
        try:
            os.kill(self.pid, sig)
        except ProcessLookupError:
            pass

    def wait(self, timeout: float) -> bool:
        try:
            self.proc.wait(timeout)
            return True
        except subprocess.TimeoutExpired:
            return False

    def kill(self) -> None:
        """SIGKILL the whole group, and every other descendant (Spark's
        Python daemons start groups of their own), and wait until every
        one is gone."""
        pids = tree_pids(self.pid)
        try:
            os.killpg(self.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        for p in pids[1:]:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
        self.proc.wait()
        deadline = time.monotonic() + 30
        while (
            _group_alive(self.pid) or any(os.path.exists(f"/proc/{p}") for p in pids[1:])
        ) and time.monotonic() < deadline:
            time.sleep(0.05)
        if self.proc.stdout:
            self.proc.stdout.close()
        self._log.close()


class Server(Child):
    """``python -m opentick_spark.server`` with its shipped defaults (bson,
    no response cache) on a loopback port, or the benchmark's traced
    launcher, which wraps the same ``main``."""

    def __init__(self, run: RunDir, warehouse: str, traced: bool = False, tag: str = ""):
        if traced:
            argv = [sys.executable, os.path.join(HERE, "launcher.py"), run.sub("trace" + tag)]
        else:
            argv = [sys.executable, "-m", "opentick_spark.server"]
        argv += ["--addr", "127.0.0.1:0", "--warehouse", warehouse]
        super().__init__(argv, run, f"server{tag}.log")
        self.trace_dir = run.sub("trace" + tag) if traced else None
        line = self.read_until(READY, timeout=150)
        self.port = int(line.split()[2])

    def connect(self, db: str | None = None):
        from opentick_spark.client import connect_tcp

        return connect_tcp("127.0.0.1", self.port, db, protocol="bson")

    def stop_graceful(self, timeout: float = 60) -> None:
        """SIGINT the server process (not its JVM) so a traced launcher can
        flush its spans and event log before the group is killed."""
        self.signal(signal.SIGINT)
        self.wait(timeout)
        self.kill()
