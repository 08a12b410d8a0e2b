"""Outside-in readers: Spark's event log, and memory high-water marks and
CPU time from /proc."""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict

PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"


def read_events(log_dir: str):
    """Every event of every event-log file under ``log_dir`` (plain JSON
    lines; v2 rolling logs are a directory of ``events_*`` files)."""
    for root, _dirs, files in sorted(os.walk(log_dir)):
        for f in sorted(files):
            if f.startswith((".", "appstatus")) or f.endswith(".crc"):
                continue
            with open(os.path.join(root, f)) as fh:
                for line in fh:
                    if line.strip():
                        yield json.loads(line)


def summarize(events, job_group: str) -> dict:
    """Task-level totals over the jobs submitted under ``job_group``.

    ``task_s_max_over_p50`` is the task-duration spread of the extraction
    stage, the stage that sent the most bytes to Python workers."""
    stage_group: dict[int, str | None] = {}
    out = defaultdict(float)
    py_sent_by_stage: dict[int, float] = defaultdict(float)
    task_s_by_stage: dict[int, list[float]] = defaultdict(list)
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            g = (e.get("Properties") or {}).get("spark.jobGroup.id")
            for sid in e.get("Stage IDs", []):
                stage_group[sid] = g
        elif kind == "SparkListenerTaskEnd":
            sid = e["Stage ID"]
            if stage_group.get(sid) != job_group:
                continue
            out["tasks"] += 1
            if e.get("Task End Reason", {}).get("Reason") != "Success":
                out["task_failures"] += 1
                continue
            m = e.get("Task Metrics") or {}
            sw = m.get("Shuffle Write Metrics", {})
            om = m.get("Output Metrics", {})
            out["shuffle_bytes"] += sw.get("Shuffle Bytes Written", 0)
            out["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                   + m.get("Disk Bytes Spilled", 0))
            out["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            out["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            out["output_bytes"] += om.get("Bytes Written", 0)
            out["output_records"] += om.get("Records Written", 0)
            info = e.get("Task Info", {})
            for acc in info.get("Accumulables", []):
                # other accumulables' updates need not be numbers
                if acc.get("Name") == PY_SENT:
                    out["python_bytes_sent"] += float(acc["Update"])
                    py_sent_by_stage[sid] += float(acc["Update"])
                elif acc.get("Name") == PY_RECEIVED:
                    out["python_bytes_received"] += float(acc["Update"])
            task_s_by_stage[sid].append(
                (info.get("Finish Time", 0) - info.get("Launch Time", 0))
                / 1e3)
    if py_sent_by_stage:
        stage = max(py_sent_by_stage, key=py_sent_by_stage.get)
        ts = task_s_by_stage[stage]
        p50 = statistics.median(ts)
        out["task_s_max_over_p50"] = max(ts) / p50 if p50 > 0 else 1.0
    return dict(out)


def _stat(pid: int) -> list[str] | None:
    """/proc/<pid>/stat fields after ``comm``: state, ppid, ... (``comm``
    may hold spaces or parens, so split after its closing paren)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def _ppid(pid: int) -> int | None:
    f = _stat(pid)
    return int(f[1]) if f else None


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children = defaultdict(list)
    for name in os.listdir("/proc"):
        if name.isdigit():
            pp = _ppid(int(name))
            if pp is not None:
                children[pp].append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def vm_hwm_kb(pid: int) -> int:
    """Resident-set high-water mark of ``pid`` (0 if it is gone)."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_hwm_mb(root: int) -> float:
    """Summed VmHWM of ``root`` and its descendants (the JVM, the
    pyspark.daemon and its forked workers), in MB."""
    return sum(vm_hwm_kb(p) for p in descendants(root)) / 1024


# HotSpot's JIT compiler threads: their CPU depends on how warm the JVM
# is, not on the work a call does
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _jit_ticks(pid: int) -> int:
    ticks = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        comm = raw[raw.index("(") + 1:raw.rindex(")")]
        if comm.startswith(JIT_THREADS):
            f = raw.rsplit(")", 1)[1].split()
            ticks += int(f[11]) + int(f[12])
    return ticks


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by ``root`` and its descendants (user and
    system time of each live process plus that of its reaped children),
    less the JIT compiler threads of ``root``.  Unlike wall time it does
    not grow while the hypervisor runs another guest on our virtual CPUs.
    The compiler threads must live as long as the JVM
    (``-XX:-UseDynamicNumberOfCompilerThreads``), or the CPU of one that
    exits would stop being subtracted."""
    ticks = -_jit_ticks(root)
    for pid in descendants(root):
        f = _stat(pid)
        if f:
            ticks += sum(int(x) for x in f[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")
