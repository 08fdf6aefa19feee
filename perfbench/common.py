"""Shared helpers for the benchmark: checkout paths, host labels, child
processes, process-tree RSS and CPU time, and the span/row hashing every
check uses.

Everything the benchmark writes lives under ``.perfbench_work/`` at the
checkout root (corpora, oracle caches, Spark local dirs, event logs).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
HERE = os.path.dirname(os.path.abspath(__file__))

if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

# The oracle-gated driver queries the oracle_queries workload runs, in
# their canonical order (the run seed permutes it), with the generated
# table each one reads: one query per JVM expression layer (scalar
# normalizers, fuzzy dictionary, LSH dedup, HTML content, media) plus the
# KTP e2e extraction. Queries that repeat a listed query's layer are left
# out to keep a cold-session pass short.
QUERY_TABLES = {
    "date_standard": "orders",
    "fuzzy_canonical": "customer",
    "minhash_lsh": "documents",
    "html_main_content": "documents",
    "media_quality": "documents",
    "ktp_extraction_e2e": "documents",
}
QUERIES = list(QUERY_TABLES)


def cores() -> int:
    """Cores for local[N]: SPARK_GRAFT_CPUS when set, else nproc."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 4096


def driver_mem() -> str:
    """Driver heap sized to the host: a quarter of RAM, 1-8 GB."""
    mb = min(8192, max(1024, mem_total_mb() // 4))
    return f"{mb}m"


def cpu_stat() -> tuple[int, int]:
    """(total ticks, steal+guest ticks) — bench.py's /proc/stat tag."""
    from bench import _cpu_stat

    return _cpu_stat()


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    dt = after[0] - before[0]
    return 100.0 * (after[1] - before[1]) / dt if dt > 0 else 0.0


def source_hash(*rel_paths: str) -> str:
    """Short hash of repo source files (directories walked recursively),
    for cache keys."""
    h = hashlib.sha1()
    for rel in rel_paths:
        path = os.path.join(ROOT, rel)
        if os.path.isdir(path):
            names = sorted(os.path.join(d, n) for d, _, files in os.walk(path)
                           for n in files if n.endswith(".py"))
        else:
            names = [path]
        for name in names:
            with open(name, "rb") as f:
                h.update(os.path.relpath(name, ROOT).encode())
                h.update(f.read())
    return h.hexdigest()[:12]


def span_hash(spans) -> str:
    """Hash of one document's (kind, text, media_ref, order) sequence.
    ``spans`` is an iterable of 4-tuples already sorted by order."""
    h = hashlib.md5()
    for kind, text, media_ref, order in spans:
        h.update(f"{kind}\x1f{text}\x1f{media_ref}\x1f{order}\x1e".encode())
    return h.hexdigest()


def child_env() -> dict:
    """Environment for every child: the checkout root on the Python
    path (the driver AND the Spark Python workers inherit it), and
    every temp/local dir inside the work dir."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in env.get("PYTHONPATH", "").split(os.pathsep)
                  if p])
    env["TMPDIR"] = tmp
    env["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # no hsperfdata file under /tmp
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    env["SPARK_GRAFT_CPUS"] = str(cores())
    env["SPARK_GRAFT_DRIVER_MEM"] = driver_mem()
    env["PYTHONUNBUFFERED"] = "1"
    return env


def _live_children() -> dict[int, list[int]]:
    children: dict[int, list[int]] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[0] is the state, fields[1] the parent
        if fields[0] != "Z":
            children.setdefault(int(fields[1]), []).append(int(pid))
    return children


def _stop_tree(root: int) -> None:
    """Stop a child and every process under it, and wait for all of
    them to end. The tree is taken before any signal: the PySpark daemon
    runs in a process group of its own, and the JVM and Python workers
    outlive a crashed driver otherwise."""
    children = _live_children()
    pids, todo = set(), [root]
    while todo:
        pid = todo.pop()
        pids.add(pid)
        todo += children.get(pid, [])
    for sig, wait in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + wait
        while time.time() < deadline:
            live = {p for pids_ in _live_children().values() for p in pids_}
            pids &= live
            if not pids:
                return
            time.sleep(0.05)


RESULT_TAG = "PERFBENCH_RESULT "


def emit(result: dict) -> None:
    """A child's result line, which run_child waits for."""
    print(RESULT_TAG + json.dumps(result), flush=True)


def run_child(script: str, args: list, log_name: str,
              timeout: float = 170.0) -> dict:
    """Run ``perfbench/<script>`` in its own session and return the
    result it emits. Once the result is in, its whole process tree is
    stopped (a job's session teardown is not part of any measurement),
    and the Spark scratch dirs it leaves are removed. Its stderr goes to
    a log file under the work dir."""
    os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
    log_path = os.path.join(WORK, "logs", log_name)
    cmd = [sys.executable, os.path.join(HERE, script)] + [str(a)
                                                          for a in args]
    result = None
    t0 = time.time()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=child_env(),
                                stdout=subprocess.PIPE, stderr=log,
                                start_new_session=True, text=True)
        timer = threading.Timer(timeout, _stop_tree, [proc.pid])
        timer.start()
        try:
            for line in proc.stdout:
                if line.startswith(RESULT_TAG):
                    result = json.loads(line[len(RESULT_TAG):])
                    break
        finally:
            timer.cancel()
            _stop_tree(proc.pid)
            proc.wait()
            proc.stdout.close()
            for d in ("spark-local", "tmp"):
                shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
    if result is None:
        raise RuntimeError(f"{script} {args[:1]} gave no result (exit "
                           f"{proc.returncode}); log: {log_path}")
    print(f"[perfbench] {log_name}: {time.time() - t0:.1f}s",
          file=sys.stderr, flush=True)
    return result


class TreeSampler:
    """Resident memory and CPU time of this process and all its
    descendants (driver JVM, Python daemon and workers), sampled every
    50 ms: the tree's peak total RSS, the peak total of its Python
    processes, the JVM's own high-water mark (VmHWM), and the CPU seconds
    (user + system) the tree spent in the window. A process that ends
    between samples loses its last <= 50 ms of CPU time."""

    def __init__(self, period: float = 0.05):
        self.period = period
        self.peak = {"total": 0, "python": 0, "jvm": 0}
        self._ticks: dict[int, tuple[int, int]] = {}   # pid -> (first, last)
        self._started = False
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._hz = os.sysconf("SC_CLK_TCK")
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        parent: dict[int, int] = {}
        seen: dict[int, tuple[str, int, int]] = {}
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/stat") as f:
                    head, tail = f.read().rsplit(")", 1)
            except OSError:
                continue
            fields = tail.split()
            # fields[1] ppid, [11] utime, [12] stime, [21] rss pages
            parent[int(pid)] = int(fields[1])
            seen[int(pid)] = (head.split("(", 1)[1],
                              int(fields[11]) + int(fields[12]),
                              int(fields[21]) * self._page)
        me = os.getpid()
        now = {"total": 0, "python": 0, "jvm": 0}
        for pid, (name, ticks, rss) in seen.items():
            p = pid
            while p > 1 and p != me:
                p = parent.get(p, 0)
            if p != me:
                continue
            # a process born in the window counts from zero
            first = self._ticks.get(pid, (0 if self._started else ticks,))[0]
            self._ticks[pid] = (first, ticks)
            now["total"] += rss
            if name == "java":
                now["jvm"] = max(now["jvm"], self._hwm(pid))
            else:
                now["python"] += rss
        self.peak = {k: max(v, now[k]) for k, v in self.peak.items()}

    @staticmethod
    def _hwm(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1]) * 1024
        except OSError:
            pass
        return 0

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.period)

    def __enter__(self):
        self._sample()
        self._started = True
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()

    def peak_mb(self) -> dict:
        return {k: v / 2 ** 20 for k, v in self.peak.items()}

    def cpu_s(self) -> float:
        return sum(last - first for first, last in self._ticks.values()) \
            / self._hz
