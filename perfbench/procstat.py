"""Whole-process-tree memory sampling and the machine-state probe."""

from __future__ import annotations

import os
import statistics
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # the comm field may hold spaces; ppid is the 2nd field after ')'
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _pss_and_rss(pid: int) -> tuple[int, int]:
    pss = rss = 0
    with open(f"/proc/{pid}/smaps_rollup", "rb") as f:
        for line in f:
            if line.startswith(b"Pss:"):
                pss = int(line.split()[1]) * 1024
            elif line.startswith(b"Rss:"):
                rss = int(line.split()[1]) * 1024
    return pss, rss


def tree_memory_bytes(root: int) -> int:
    """Summed proportional set size (PSS) of ``root`` and its descendants:
    driver JVM, Python driver, pyspark daemon and workers.  PSS splits
    pages shared after fork() among the sharers, so forked workers are
    not counted twice; a child that still shares its parent's address
    space (spawned, not yet exec'd) is skipped."""
    total = 0
    kids = _children()
    todo = [(root, None)]
    while todo:
        pid, parent_rss = todo.pop()
        try:
            pss, rss = _pss_and_rss(pid)
        except OSError:
            continue
        if rss != parent_rss:
            total += pss
        todo.extend((k, rss) for k in kids.get(pid, ()))
    return total


class PeakMemory:
    """Samples this process tree's memory (``tree_memory_bytes``) every
    ``period`` seconds in a background thread; ``peak`` is the largest
    sum seen."""

    period = 0.1

    def __init__(self) -> None:
        self.root = os.getpid()
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_memory_bytes(self.root))
            self._stop.wait(self.period)

    def __enter__(self) -> "PeakMemory":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_memory_bytes(self.root))


# A fixed page for the probe: the same bytes on every run and seed.
_PROBE_PAGE = (
    "<html><head><title>probe</title></head><body><div id=\"nav\">"
    + "<a href=\"/x\">link</a> " * 20 + "</div><div id=\"main\"><h1>Probe</h1>"
    + ("<p>" + "lorem ipsum dolor sit amet " * 12 + "</p>") * 4
    + "</div></body></html>")


def machine_probe(slots: int) -> dict:
    """nproc, task slots and one single-core ``batch_doc_text`` rate over
    a fixed in-memory buffer, so a throttled machine shows in the log."""
    import pyarrow as pa
    from swiftsoup_spark.kernel.fastpath import batch_doc_text

    docs = 4000
    col = pa.array([_PROBE_PAGE] * docs, pa.string())
    times = []
    for _ in range(5):
        t = time.perf_counter()
        r = batch_doc_text(col, "main")
        times.append(time.perf_counter() - t)
    return {
        "nproc": os.cpu_count(),
        "affinity": len(os.sched_getaffinity(0)),
        "slots": slots,
        "probe_docs_per_s": docs / statistics.median(times) if r else None,
        "probe_bails": len(r[2]) if r else None,
    }


def wait_children(timeout: float) -> None:
    """Wait until every descendant of this process has ended; kill those
    left after ``timeout`` seconds."""
    import signal
    me = os.getpid()
    deadline = time.monotonic() + timeout
    killed = False
    while kids := tree(me)[1:]:
        for pid in kids:
            try:
                os.waitpid(pid, os.WNOHANG)     # reaps direct children
            except ChildProcessError:
                pass
        if time.monotonic() > deadline:
            if killed:
                return
            for pid in kids:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            killed = True
            deadline = time.monotonic() + 10
        time.sleep(0.1)
