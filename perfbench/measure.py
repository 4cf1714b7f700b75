"""Measurement primitives: process-tree CPU and memory from procfs, the span
tracer, host tags, and parsers for Spark's event log and UDF profiler dumps.

Everything here observes the program from outside; nothing imports the
package under test.
"""

from __future__ import annotations

import json
import os
import pstats
import statistics
import threading
import time
from contextlib import contextmanager, nullcontext
from pathlib import Path

_CLK = os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict:
    """pid -> (ppid, cpu ticks incl. reaped children)."""
    table = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as f:
                rest = f.read().rsplit(b")", 1)[-1].split()
        except OSError:
            continue
        # rest[0] is the state; stat fields 4.. follow. utime, stime, cutime,
        # cstime are rest[11:15]. cutime/cstime hold the CPU of reaped
        # children, so Python workers that exited between two samples are
        # still counted through their parent.
        table[int(d)] = (int(rest[1]), sum(int(x) for x in rest[11:15]))
    return table


def _tree(table: dict, root: int) -> list:
    kids: dict = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        if pid in table:
            out.append(pid)
        stack.extend(kids.get(pid, ()))
    return out


def descendants() -> list:
    """Live processes started, directly or not, by this one."""
    return _tree(_proc_table(), os.getpid())[1:]


def tree_cpu_s() -> float:
    """CPU seconds (user + system) of this process and all its descendants:
    the Spark JVM and its Python workers."""
    table = _proc_table()
    return sum(table[p][1] for p in _tree(table, os.getpid())) / _CLK


def python_pss_mb() -> float:
    """Proportional set size of the process tree's Python processes (this
    one and the Spark Python workers): resident memory with each shared page
    split among its sharers, so a freshly forked worker does not count its
    parent's pages twice, as summed RSS would. The JVM is left out: its
    resident heap is what G1 has grown to, not what the program uses."""
    total_kb = 0
    for pid in _tree(_proc_table(), os.getpid()):
        try:
            with open(f"/proc/{pid}/comm", "rb") as f:
                if f.read().strip() == b"java":
                    continue
            with open(f"/proc/{pid}/smaps_rollup", "rb") as f:
                for line in f:
                    if line.startswith(b"Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024


def jvm_live_mb(jvm) -> float:
    """Heap the JVM holds live after a full collection, plus its non-heap
    in use (metaspace, code cache). Its resident size, or its heap in use at
    any moment, follows how far G1 has let garbage pile up, which varies by
    a fifth between identical runs."""
    jvm.java.lang.System.gc()
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = bean.getHeapMemoryUsage().getUsed() + bean.getNonHeapMemoryUsage().getUsed()
    return used / 2**20


class PeakMemory:
    """Samples :func:`python_pss_mb` on a background thread and keeps the
    peak; a context manager around a timed section."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, python_pss_mb())
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakMemory":
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, python_pss_mb())


class Tracer:
    """In-memory spans around calls into the program's layers.

    A span is ``{id, parent, layer, name, start, end}`` with times in seconds
    since the tracer started; every span of one run shares ``trace_id``.
    When disabled, :meth:`span` is a no-op so untraced runs pay nothing.
    """

    def __init__(self, enabled: bool, trace_id: str):
        self.enabled = enabled
        self.trace_id = trace_id
        self.spans: list = []
        self._t0 = time.perf_counter()
        self._stack: list = []
        self._lock = threading.Lock()

    def now(self) -> float:
        return time.perf_counter() - self._t0

    def add(self, layer: str, name: str, start: float, end: float, parent=None, **attrs) -> int:
        with self._lock:
            sid = len(self.spans)
            self.spans.append(
                {"id": sid, "parent": parent, "layer": layer, "name": name,
                 "start": round(start, 6), "end": round(end, 6), **attrs}
            )
        return sid

    @contextmanager
    def _span(self, layer: str, name: str, attrs: dict):
        parent = self._stack[-1] if self._stack else None
        start = self.now()
        sid = self.add(layer, name, start, start, parent, **attrs)
        self._stack.append(sid)
        try:
            yield sid
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = round(self.now(), 6)

    def span(self, layer: str, name: str, **attrs):
        if not self.enabled:
            return nullcontext()
        return self._span(layer, name, attrs)

    def dump(self, path: Path, extra: dict) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(
            json.dumps({"trace_id": self.trace_id, "spans": self.spans, **extra}, indent=1)
        )


def mops_probe() -> float:
    """Single-core speed probe: million simple interpreter ops per second
    (best of three), so figures from different hosts are never compared."""
    n = 1_000_000
    best = float("inf")
    for _ in range(3):
        t = time.perf_counter()
        acc = 0
        for i in range(n):
            acc += i ^ 0x5A
        best = min(best, time.perf_counter() - t)
    return n / best / 1e6


def cpu_steal() -> tuple:
    """(steal, total) jiffies of the whole host from ``/proc/stat``: time a
    hypervisor ran other guests while this one had work. Its share over a
    run says how far that run's wall times are the host's, not the
    program's."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def host_tags(root: Path, cores: int, heap: str) -> dict:
    """Where a result came from. The checkout the benchmark runs in may not
    be a git repository, so a digest of the package sources stands beside
    the git revision."""
    import hashlib
    import subprocess

    try:
        rev = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
            text=True, timeout=10, check=True,
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        rev = None
    digest = hashlib.sha1()
    for p in sorted((root / "fakepilot_spark").rglob("*.py")):
        digest.update(p.relative_to(root).as_posix().encode())
        digest.update(p.read_bytes())
    return {
        "git_rev": rev,
        "source_sha1": digest.hexdigest()[:12],
        "nproc": cores,
        "jvm_heap": heap,
        "mops": round(mops_probe(), 2),
    }


def force(df) -> None:
    """Evaluate every column of a DataFrame without collecting it
    (``count()`` would let Catalyst prune an extraction UDF away)."""
    df.write.format("noop").mode("overwrite").save()


def median(xs) -> float:
    return float(statistics.median(xs))


# -- Spark event log ----------------------------------------------------------

EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}


def read_event_log(log_dir: Path) -> list:
    """Events of the most recent application log in ``log_dir`` (written
    uncompressed and unrolled, see ``EVENT_LOG_CONF``)."""
    logs = sorted(
        (p for p in log_dir.iterdir() if p.is_file() and not p.name.startswith(".")),
        key=lambda p: p.stat().st_mtime,
    )
    if not logs:
        return []
    with open(logs[-1], encoding="utf-8") as f:
        return [json.loads(line) for line in f if line.strip()]


def event_log_metrics(events: list, t_start_ms: float, t_end_ms: float) -> dict:
    """Job, task and I/O totals for jobs submitted in ``[t_start, t_end]``.

    ``fetch_task_skew`` is max/median task duration of the busiest stage
    (by summed executor run time) of each job, taking the job with the
    busiest stage of all: in a crawl that is the fetch-extract-write stage.
    """
    jobs = {}
    stage_job = {}
    for e in events:
        if e.get("Event") == "SparkListenerJobStart":
            if t_start_ms <= e["Submission Time"] <= t_end_ms:
                jobs[e["Job ID"]] = e
                for sid in e.get("Stage IDs", ()):
                    stage_job[sid] = e["Job ID"]
    out = {
        "jobs": len(jobs), "tasks": 0, "executor_cpu_s": 0.0, "gc_s": 0.0,
        "input_mb": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0, "output_mb": 0.0,
    }
    stage_tasks: dict = {}
    for e in events:
        if e.get("Event") != "SparkListenerTaskEnd" or e["Stage ID"] not in stage_job:
            continue
        m = e.get("Task Metrics") or {}
        info = e["Task Info"]
        out["tasks"] += 1
        out["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        out["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        out["input_mb"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0) / 2**20
        out["output_mb"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0) / 2**20
        out["shuffle_write_mb"] += (
            (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / 2**20
        )
        out["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 2**20
        stage_tasks.setdefault(e["Stage ID"], []).append(
            (m.get("Executor Run Time", 0), info["Finish Time"] - info["Launch Time"])
        )
    skew = 0.0
    if stage_tasks:
        busiest = max(stage_tasks.values(), key=lambda ts: sum(r for r, _ in ts))
        durations = [d for _, d in busiest]
        skew = max(durations) / max(median(durations), 1.0)
    out["fetch_task_skew"] = skew
    return out


# -- Python UDF profiler --------------------------------------------------------


def load_profiles(dump_dir: Path) -> pstats.Stats | None:
    files = sorted(dump_dir.glob("*.pstats"))
    if not files:
        return None
    return pstats.Stats(*[str(f) for f in files])


def cumulative_s(stats: pstats.Stats, module_suffix: str, func: str) -> tuple:
    """(calls, cumulative seconds) of ``func`` defined in a file ending with
    ``module_suffix`` (the profiler records base names only); recursion-safe
    because pstats' cumtime already counts each outermost call once."""
    calls, cum = 0, 0.0
    for (file, _line, name), (_cc, nc, _tt, ct, _callers) in stats.stats.items():
        if name == func and file.replace(os.sep, "/").endswith(module_suffix):
            calls += nc
            cum += ct
    return calls, cum
