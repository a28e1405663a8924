"""Spans, process memory and Spark's own status stores.

Everything here reads the program from outside: spans are opened by the
benchmark around its calls into a layer, and the per-layer numbers come
from the status stores Spark keeps with the UI off —

* stage metrics (run time, GC, shuffle, spill, peak execution memory),
  grouped by the job group the benchmark set for the phase, from
  ``SparkContext.statusStore``;
* per-operator SQL metrics (Python worker time, scan time, written
  output) of every SQL execution those jobs belong to, from the session's
  ``SQLAppStatusStore``.
"""

from __future__ import annotations

import os
import re
import sys
import threading
import time
import types
from collections import defaultdict
from contextlib import contextmanager


def _it(scala_coll):
    """Iterate a Scala collection returned through py4j."""
    it = scala_coll.iterator()
    while it.hasNext():
        yield it.next()


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent, run id); written out
    once, when the benchmark ends.  While ``enabled`` is false the span
    context manager only yields, so untraced passes pay nothing."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name, "run_id": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()


# ---------------------------------------------------------------------------
# resident memory of the Spark processes
# ---------------------------------------------------------------------------


def _resident_bytes(pid: int) -> int:
    """Resident memory of one process.  The JVM's RSS comes from
    ``statm``, which costs nothing to read; walking the page tables of a
    multi-GiB heap for its ``smaps_rollup`` took about 40 ms a sample and
    slowed the program it measured.  The Python workers report their
    proportional set size (PSS), so the pages they share after the fork
    count once in total, not once per worker."""
    try:
        with open(f"/proc/{pid}/comm") as fh:
            if fh.read().strip() == "java":
                with open(f"/proc/{pid}/statm") as st:
                    return int(st.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


def descendants(root: int) -> list[int]:
    """Every process below ``root`` in the process tree."""
    children = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; the ppid follows the last ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children[ppid].append(int(entry))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


class RssSampler:
    """Samples the summed resident memory of every process this benchmark
    started — the driver JVM (RSS), the Python worker daemon and its
    workers (PSS) — and keeps the peak since the last ``reset``."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def reset(self) -> None:
        with self._lock:
            self._peak = 0

    def peak_mb(self) -> float:
        self.sample()
        with self._lock:
            return self._peak / 2**20

    def sample(self) -> None:
        total = sum(_resident_bytes(p) for p in descendants(os.getpid()))
        with self._lock:
            self._peak = max(self._peak, total)

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()


# ---------------------------------------------------------------------------
# Spark status stores
# ---------------------------------------------------------------------------

_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}
_VALUE = re.compile(r"(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?")


def parse_metric(text: str) -> float:
    """A formatted SQL metric value -> seconds, bytes or a plain count.
    Timing and size metrics read ``total (min, med, max ...)\\n<total> (...)``
    when more than one task reported; sums read ``1,234``."""
    line = text.split("\n")[1] if "\n" in text else text
    m = _VALUE.match(line.strip())
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1.0)


def job_ids(sc, group: str) -> list[int]:
    store = sc._jsc.sc().statusStore()
    return [
        j.jobId() for j in _it(store.jobsList(None))
        if j.jobGroup().isDefined() and j.jobGroup().get() == group
    ]


def stage_totals(sc, group: str) -> dict:
    """Sums over the stages of the group's jobs (last attempt of each)."""
    store = sc._jsc.sc().statusStore()
    jobs = [j for j in _it(store.jobsList(None))
            if j.jobGroup().isDefined() and j.jobGroup().get() == group]
    stage_ids = {int(s) for j in jobs for s in _it(j.stageIds())}
    t = defaultdict(float)
    t["jobs"] = len(jobs)
    for sid in sorted(stage_ids):
        try:
            st = store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 - a stage skipped before it was ever submitted
            continue
        if str(st.status()) == "SKIPPED":
            continue
        t["stages"] += 1
        t["max_stage_tasks"] = max(t["max_stage_tasks"], st.numTasks())
        t["single_task_stages"] += st.numTasks() == 1
        t["failed_tasks"] += st.numFailedTasks()
        t["task_s"] += st.executorRunTime() / 1e3
        t["gc_s"] += st.jvmGcTime() / 1e3
        t["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
        t["shuffle_write_s"] += st.shuffleWriteTime() / 1e9
        t["fetch_wait_s"] += st.shuffleFetchWaitTime() / 1e3
        t["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 2**20
        t["peak_exec_mem_mb"] = max(t["peak_exec_mem_mb"], st.peakExecutionMemory() / 2**20)
    return dict(t)


_CALL = re.compile(r"([A-Za-z_][A-Za-z0-9_]*)\(")


def sql_totals(spark, jobs: list[int], fn_modules: dict[str, set]) -> dict:
    """Operator metrics of every SQL execution that ran one of ``jobs``.

    Python-worker time is attributed to the module that defines the UDF
    (found from the function name in the operator's description);
    ``python_s.<unattributed>`` collects names no single module owns.
    ``prefilter_rows`` / ``prefilter_scanned`` are the Filter output and
    scanned rows of executions that explode rows (the violations query
    of ``xjs.runtime``)."""
    store = spark._jsparkSession.sharedState().statusStore()
    wanted = set(jobs)
    t = defaultdict(float)
    for ex in _it(store.executionsList()):
        if not wanted & {int(k) for k in _it(ex.jobs().keys())}:
            continue
        values = store.executionMetrics(ex.executionId())
        explodes, filter_rows, scan_rows = False, 0.0, 0.0
        for node in _it(store.planGraph(ex.executionId()).allNodes()):
            name = node.name()
            explodes = explodes or node.desc().startswith("Generate explode(")
            for m in _it(node.metrics()):
                v = values.get(m.accumulatorId())
                if not v.isDefined():
                    continue
                x = parse_metric(v.get())
                metric = m.name()
                if metric == "time to run Python workers":
                    t["python_s"] += x
                    names = [f for f in _CALL.findall(node.desc()) if f in fn_modules]
                    mods = fn_modules[names[0]] if names else set()
                    owner = next(iter(mods)) if len(mods) == 1 else "<unattributed>"
                    t[f"python_s.{owner}"] += x
                elif metric == "time to start Python workers":
                    t["python_boot_s"] += x
                elif metric == "scan time":
                    t["scan_s"] += x
                elif metric == "written output":
                    t["write_mb"] += x / 2**20
                elif metric == "number of output rows" and name.startswith("Scan"):
                    scan_rows += x
                elif metric == "number of output rows" and name == "Filter":
                    filter_rows += x
        if explodes:
            t["prefilter_rows"] += filter_rows
            t["prefilter_scanned"] += scan_rows
    return dict(t)


def function_modules(prefix: str = "xjs.") -> dict[str, set]:
    """Function name -> the imported ``xjs`` modules whose code defines a
    function of that name (nested functions included, since UDF bodies
    are usually closures)."""
    index: dict[str, set] = defaultdict(set)

    def walk(code, mod):
        index[code.co_name].add(mod)
        for c in code.co_consts:
            if isinstance(c, types.CodeType):
                walk(c, mod)

    for name, mod in list(sys.modules.items()):
        if not name.startswith(prefix) or mod is None:
            continue
        for obj in vars(mod).values():
            fn = getattr(obj, "__wrapped__", obj)
            code = getattr(fn, "__code__", None)
            if code is not None and getattr(fn, "__module__", None) == name:
                walk(code, name)
    return index


def persisted_tables(sc) -> list[str]:
    """Names of the RDDs currently persisted in the SparkContext, leaving
    out local checkpoints (which the context cleaner releases on its own
    once the plan that made them is gone)."""
    return sorted(
        # an in-memory relation is named by its plan; its last line is the scan
        str(r.name()).strip().splitlines()[-1].strip()[:300]
        for r in _it(sc._jsc.sc().getPersistentRDDs().values())
        if not r.isLocallyCheckpointed()
    )
