"""Peak resident memory from kernel high-water marks (``VmHWM``).

Sampling RSS misses short peaks and moves with the sampling phase; the
kernel's per-process high-water mark does not. The benchmark reports
the driver JVM's VmHWM plus the largest VmHWM among its Python
descendants (the worker daemon and its forked workers). Workers
can exit before the run ends, so their marks are polled while the run
is going; a poll reads a few small ``/proc`` files.
"""

from __future__ import annotations

import os
import threading


def vm_hwm_mb(pid: int) -> float:
    """The process's VmHWM in MB, or 0.0 once it has exited."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _is_python(pid: int) -> bool:
    # a process the JVM is spawning is a clone of the JVM until it
    # execs, and reports the JVM's own high-water mark meanwhile
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().startswith("python")
    except OSError:
        return False


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; the ppid follows its ")"
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


class HwmSampler:
    """Polls the VmHWM of ``root``'s descendants every ``interval`` s."""

    def __init__(self, root: int, interval: float = 0.5) -> None:
        self.root = root
        self.interval = interval
        self.worker_hwm: dict[int, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="hwm-sampler", daemon=True)

    def _poll(self) -> None:
        for pid in filter(_is_python, descendants(self.root)):
            mb = vm_hwm_mb(pid)
            if mb > self.worker_hwm.get(pid, 0.0):
                self.worker_hwm[pid] = mb

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._poll()

    def start(self) -> HwmSampler:
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self._poll()

    def peak_mb(self) -> float:
        """Driver VmHWM + the largest worker VmHWM seen (call after stop)."""
        return vm_hwm_mb(self.root) + max(self.worker_hwm.values(), default=0.0)
