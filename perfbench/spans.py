"""Spans recorded from the benchmark's side of each layer call.

`Tracer.span(name, **attrs)` wraps one call into a module's public
function. A span records its name, start, end and parent, the process
tree's CPU-seconds (driver, JVM and Python workers, read from /proc),
and — when a SparkContext is attached — the Spark jobs the call
launched, with their stages, tasks and failed tasks from
`sc.statusTracker()`. Job ids are sequential, so a call's jobs are the
ids taken between its start and end, from whatever thread submitted
them; a per-span job group would miss the jobs the engine submits from
its own threads. Spans stay in memory and are written as JSON when the
run ends.

`NullTracer` has the same interface and records nothing; the untraced
runs that give the end-to-end metrics use it.
"""

from __future__ import annotations

import contextlib
import json
import os
import signal
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _proc_table() -> tuple[dict[int, list[int]], dict[int, int]]:
    """Children per pid, and clock ticks of CPU (user + system, including
    reaped children) per pid, for every live process."""
    kids: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                s = f.read()
        except OSError:  # exited while scanning
            continue
        fields = s[s.rindex(")") + 2 :].split()
        pid = int(name)
        kids.setdefault(int(fields[1]), []).append(pid)
        ticks[pid] = sum(int(x) for x in fields[11:15])
    return kids, ticks


def _below(kids: dict[int, list[int]], root: int) -> list[int]:
    out, todo = [], list(kids.get(root, ()))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def descendants() -> list[int]:
    return _below(_proc_table()[0], os.getpid())


def tree_cpu_s() -> float:
    """CPU-seconds of this process and every live descendant."""
    kids, ticks = _proc_table()
    me = os.getpid()
    return sum(ticks.get(p, 0) for p in [me, *_below(kids, me)]) / _CLK_TCK


def next_job_id(sc) -> int:
    """The id the next Spark job will get (reading it changes nothing)."""
    return sc._jsc.sc().dagScheduler().nextJobId()


def reap(pids: list[int]) -> None:
    """Terminate leftover descendants and wait until they are gone:
    SIGTERM with 10 s of grace, then SIGKILL."""
    for sig, grace_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 5.0)):
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + grace_s
        while pids and time.monotonic() < deadline:
            for pid in list(pids):
                try:
                    os.waitpid(pid, os.WNOHANG)  # reaps our own children
                except ChildProcessError:
                    pass
                if _zombie(pid):
                    pids.remove(pid)
            time.sleep(0.05)


def _zombie(pid: int) -> bool:
    """True when `pid` has exited (gone, or a zombie awaiting its parent)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return True
    return s[s.rindex(")") + 2] == "Z"


class NullTracer:
    enabled = False

    def __init__(self):
        self.phase = "setup"

    @contextlib.contextmanager
    def span(self, name: str, spark: bool = True, **attrs):
        yield {}

    def attach(self, sc) -> None:
        pass

    def detach(self) -> None:
        pass


class Tracer:
    enabled = True

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._sc = None
        self.phase = "setup"
        self._t0 = time.perf_counter()

    def attach(self, sc) -> None:
        """Account Spark jobs per span from now on."""
        self._sc = sc

    def detach(self) -> None:
        """Read the stages and tasks of every span's jobs while the
        context is still up, then stop accounting."""
        if self._sc is None:
            return
        st = self._sc.statusTracker()
        for rec in self.spans:
            if "job_ids" in rec and "stages" not in rec:
                rec.update(stages=0, tasks=0, failed_tasks=0)
                for j in range(*rec["job_ids"]):
                    info = st.getJobInfo(j)
                    for s in info.stageIds if info is not None else ():
                        si = st.getStageInfo(s)
                        if si is not None:
                            rec["stages"] += 1
                            rec["tasks"] += si.numTasks
                            rec["failed_tasks"] += si.numFailedTasks
        self._sc = None

    @contextlib.contextmanager
    def span(self, name: str, spark: bool = True, **attrs):
        """`spark=False` marks a call that launches no Spark job: it
        skips the job and /proc accounting, which cost more than
        a warm embedded query."""
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "phase": self.phase,
            **attrs,
        }
        self.spans.append(rec)
        sc = self._sc if spark else None
        if sc is not None:
            job0 = next_job_id(sc)
        # Spark-free spans only need this process's CPU: no JVM or
        # workers run under them, and the /proc walk costs ~1 ms
        cpu0 = tree_cpu_s() if sc is not None else time.process_time()
        self._stack.append(sid)
        rec["start"] = time.perf_counter() - self._t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()
            if sc is not None:
                rec["cpu_s"] = tree_cpu_s() - cpu0
                rec["job_ids"] = (job0, next_job_id(sc))
                rec["jobs"] = rec["job_ids"][1] - job0
            else:
                rec["cpu_s"] = time.process_time() - cpu0

    # ---------------------------------------------------------- analysis

    def finish(self) -> list[dict]:
        """Fill in duration and self time: the duration minus the
        children's (spans nest on one thread, so children never
        overlap). Job counts are already inclusive."""
        child_time = [0.0] * len(self.spans)
        for rec in reversed(self.spans):  # children come after parents
            rec["dur_s"] = rec["end"] - rec["start"]
            rec["self_s"] = rec["dur_s"] - child_time[rec["id"]]
            if rec["parent"] is not None:
                child_time[rec["parent"]] += rec["dur_s"]
        return self.spans

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({**extra, "spans": self.spans}, f)

    def of(self, name: str, phase: str | None = None, **match) -> list[dict]:
        return [
            s
            for s in self.spans
            if s["name"] == name
            and (phase is None or s["phase"] == phase)
            and all(s.get(k) == v for k, v in match.items())
        ]
