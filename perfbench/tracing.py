"""Measurement helpers: spans, wrapped layer calls, Spark stage metrics,
process-tree memory and host context.

Spans are recorded only from the benchmark's own files: ``instrument``
replaces a module attribute with a wrapper that opens a span around
each call, and ``restore`` puts the original back.  Nothing inside the
program is edited.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import os
import threading
import time


class Tracer:
    """In-memory spans (id, name, start, end, parent) plus counters."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def add(self, key: str, value: float = 1) -> None:
        self.counts[key] = self.counts.get(key, 0) + value

    def instrument(self, module: str, attr: str, name: str | None = None,
                   on_call=None, timed: bool = True) -> None:
        """Wrap ``module.attr`` (``attr`` may be ``Class.method``) so each
        call records a span ``name``, or with ``timed=False`` only
        counts calls under ``name``; ``on_call(tracer, args, result)``
        records further counts."""
        owner = importlib.import_module(module)
        *path, leaf = attr.split(".")
        for part in path:
            owner = getattr(owner, part)
        orig = getattr(owner, leaf)
        label = name or f"{module.replace('ocr_pytorch_spark.', '')}.{attr}"

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if timed:
                with self.span(label):
                    out = orig(*args, **kwargs)
            else:
                self.add(label)
                out = orig(*args, **kwargs)
            if on_call is not None:
                on_call(self, args, out)
            return out

        setattr(owner, leaf, wrapper)
        self._patched.append((owner, leaf, orig))

    def restore(self) -> None:
        while self._patched:
            mod, attr, orig = self._patched.pop()
            setattr(mod, attr, orig)

    def _children(self) -> dict[int, list[dict]]:
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        return kids

    def self_times(self, under: set[int] | None = None) -> dict[str, float]:
        """name -> summed self time (duration minus direct children),
        over spans whose ids are in ``under`` (all spans when None)."""
        kids = self._children()
        out: dict[str, float] = {}
        for s in self.spans:
            if under is not None and s["id"] not in under:
                continue
            dur = s["end"] - s["start"]
            dur -= sum(c["end"] - c["start"] for c in kids.get(s["id"], []))
            out[s["name"]] = out.get(s["name"], 0.0) + dur
        return out

    def _named(self, name: str, under: set[int] | None) -> list[dict]:
        return [s for s in self.spans if s["name"] == name
                and (under is None or s["id"] in under)]

    def total(self, name: str, under: set[int] | None = None) -> float:
        return sum(s["end"] - s["start"] for s in self._named(name, under))

    def calls(self, name: str, under: set[int] | None = None) -> int:
        return len(self._named(name, under))

    def descendants(self, sid: int) -> set[int]:
        kids = self._children()
        out, todo = set(), [sid]
        while todo:
            for c in kids.get(todo.pop(), []):
                out.add(c["id"])
                todo.append(c["id"])
        return out

    def dump(self, path: str, **extra) -> None:
        import json

        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(dict(extra, spans=self.spans, counts=self.counts), f)


# --- Spark stage metrics --------------------------------------------

STAGE_FIELDS = ("shuffle_write_bytes", "shuffle_read_bytes",
                "executor_run_s", "jvm_gc_s", "tasks")


def stage_metrics(spark, group: str) -> dict[str, float]:
    """Sum per-stage executor run time, GC time, shuffle bytes and task
    counts over the stages of every job run under job group ``group``,
    read from the Spark driver's status store (works with the UI off)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    stage_ids: set[int] = set()
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    out = dict.fromkeys(STAGE_FIELDS, 0.0)
    if not stage_ids:
        return out
    jvm = sc._jvm
    empty = jvm.java.util.ArrayList()
    stages = sc._jsc.sc().statusStore().stageList(
        empty, False, False, sc._gateway.new_array(jvm.double, 0), empty)
    for i in range(stages.size()):  # a Scala Seq
        st = stages.apply(i)
        if st.stageId() not in stage_ids:
            continue
        out["shuffle_write_bytes"] += st.shuffleWriteBytes()
        out["shuffle_read_bytes"] += (st.shuffleRemoteBytesRead()
                                      + st.shuffleLocalBytesRead())
        out["executor_run_s"] += st.executorRunTime() / 1000.0
        out["jvm_gc_s"] += st.jvmGcTime() / 1000.0
        out["tasks"] += st.numTasks()
    return out


@contextlib.contextmanager
def job_group(spark, group: str):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


# --- process tree ---------------------------------------------------

def _ppid_map() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        out[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def descendants(root: int) -> list[int]:
    ppid = _ppid_map()
    kids: dict[int, list[int]] = {}
    for pid, parent in ppid.items():
        kids.setdefault(parent, []).append(pid)
    out, todo = [], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class PssSampler:
    """Peak summed proportional set size (PSS) of this process and all
    its descendants (Spark driver, JVM, Python workers), sampled from
    /proc on a background thread.  PSS counts a page shared by forked Python
    workers once, so the peak does not depend on how many workers the
    scheduler happened to fork."""

    def __init__(self, interval: float = 0.5) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            tree = [me] + descendants(me)
            self.peak = max(self.peak, sum(_pss_bytes(p) for p in tree))
            self._stop.wait(self.interval)

    def __enter__(self) -> "PssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def wait_gone(pids: list[int], timeout: float) -> None:
    """Wait for every pid to exit; SIGKILL whatever outlives ``timeout``."""
    import signal

    deadline = time.monotonic() + timeout
    live = list(pids)
    while live:
        live = [p for p in live if os.path.exists(f"/proc/{p}")
                and not _is_zombie(p)]
        if not live:
            return
        if time.monotonic() > deadline:
            for p in live:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(p, signal.SIGKILL)
            deadline = time.monotonic() + 5
        time.sleep(0.05)


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


# --- host context ---------------------------------------------------

def gemm_gflops(seconds: float = 0.3) -> float:
    """Single-thread conv5-shaped sgemm rate (the same shape as the
    repository's bench anchor), so a slow host shows beside a slow run."""
    import numpy as np

    rng = np.random.default_rng(0)
    a = rng.standard_normal((512, 4608)).astype(np.float32)
    b = rng.standard_normal((4608, 576)).astype(np.float32)
    out = np.empty((512, 576), np.float32)
    np.dot(a, b, out=out)
    n, t0 = 0, time.perf_counter()
    while time.perf_counter() - t0 < seconds:
        np.dot(a, b, out=out)
        n += 1
    return 2 * 512 * 4608 * 576 * n / (time.perf_counter() - t0) / 1e9


def host_context() -> dict:
    return {"nproc": os.cpu_count(), "load_1m": os.getloadavg()[0],
            "gemm_gflops": round(gemm_gflops(), 2)}
