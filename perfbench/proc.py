"""Resource counters read from outside the engine: ``/proc`` for the process
tree (this Python driver, the JVM it launched, the JVM's Python workers) and
a capture of file descriptor 2, which the JVM and its workers inherit."""

from __future__ import annotations

import os
import re
import sys
from contextlib import contextmanager

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:  # the process ended between listing and reading
        return None
    # comm (field 2) may hold spaces; everything after its ')' is fixed
    return raw[raw.rindex(")") + 2 :].split()


def process_tree(root: int | None = None) -> list[int]:
    """``root`` and all of its live descendants."""
    root = root or os.getpid()
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_seconds(root: int | None = None) -> float:
    """utime + stime of the live tree, plus that of children it reaped."""
    ticks = 0
    for pid in process_tree(root):
        f = _stat_fields(pid)
        if f is not None:
            # fields 14-17 of stat: utime, stime, cutime, cstime
            ticks += sum(int(x) for x in f[11:15])
    return ticks / _CLK_TCK


def tree_peak_rss_mb(root: int | None = None) -> float:
    """Sum of ``VmHWM`` (peak resident set) over the live descendants of
    ``root``, in MB.  ``root`` itself is left out: it is the benchmark's own
    process, which holds the oracle."""
    kb = 0
    for pid in process_tree(root)[1:]:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024


class PeakRss:
    """Largest tree-wide VmHWM sum seen over repeated samples: a Python
    worker that exits between samples takes its own peak with it."""

    def __init__(self):
        self.mb = 0.0

    def sample(self) -> None:
        self.mb = max(self.mb, tree_peak_rss_mb())


_WARNING = re.compile(r"Warning\b|\bWARN\b")


@contextmanager
def captured_stderr(path: str):
    """Redirect fd 2 to ``path`` for the block, then replay it to the real
    stderr.  Yields a dict that gets the captured text under ``"text"``."""
    out: dict = {}
    sys.stderr.flush()
    saved = os.dup(2)
    with open(path, "w+b") as fh:
        os.dup2(fh.fileno(), 2)
        try:
            yield out
        finally:
            sys.stderr.flush()
            os.dup2(saved, 2)
            os.close(saved)
            fh.seek(0)
            out["text"] = fh.read().decode(errors="replace")
            sys.stderr.write(out["text"])
            sys.stderr.flush()


def warning_lines(text: str) -> int:
    return sum(1 for line in text.splitlines() if _WARNING.search(line))


def codegen_errors(text: str) -> int:
    """``ERROR CodeGenerator`` means an expression fell back to interpreted
    evaluation: a different, slower program than the one being measured."""
    return text.count("ERROR CodeGenerator")
