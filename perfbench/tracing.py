"""Layer tracing from outside the package.

Nothing here edits the package.  Spans are recorded around calls into
each layer:

* ``queries``: the registered callable that builds a query's DataFrame;
* ``operators`` / ``plans`` / ``sources``: wrappers installed on every
  public function of those modules (``install_wrappers`` must run before
  the registry imports the query modules, which bind names with
  ``from ... import``);
* ``checkpoint``: ``localCheckpoint`` / ``checkpoint`` / ``persist`` /
  ``cache`` on DataFrame, attributed to the calling module's layer;
* ``catalyst``: a re-plan of the built DataFrame, timed and split into
  analysis / optimization / planning by ``QueryExecution.tracker()``;
* ``driver``: the noop-sink execution, minus the Spark jobs under it;
* ``spark``: jobs read back from the live status store, attributed to a
  query by the window of job IDs its closed-loop call launched (pooled
  writer threads do not inherit job groups, IDs cover them).

Counts come from a py4j ``send_command`` counter, the status store's
stage metrics and ``/proc`` (JVM and PySpark worker CPU, JVM peak RSS).
"""

from __future__ import annotations

import functools
import importlib
import inspect
import os
import pkgutil
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

PKG = "ida_dataengineerproject_spark"
WRAPPED_LAYERS = ("operators", "plans", "sources")
CHECKPOINT_METHODS = ("localCheckpoint", "checkpoint", "persist", "cache")

# The recorder the installed wrappers report to; ``None`` (the value in
# every Python worker process) makes them plain pass-throughs.
_ACTIVE: "Recorder | None" = None


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def next_job_id(spark) -> int:
    """The ID the DAG scheduler gives the next job; jobs launched between
    two reads belong to whatever ran in between, whatever thread ran it."""
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, float, float]:
    """(ppid, own cpu s, reaped-children cpu s) from /proc/<pid>/stat."""
    with open(f"/proc/{pid}/stat") as fh:
        f = fh.read().rsplit(")", 1)[1].split()
    return int(f[1]), (int(f[11]) + int(f[12])) / _TICK, (int(f[13]) + int(f[14])) / _TICK


def process_cpu_s(pid: int) -> float:
    return _stat(pid)[1]


def descendants_cpu_s(root: int) -> float:
    """CPU of every live descendant of ``root`` plus what they reaped:
    the PySpark worker daemon, its forked workers, and workers that
    already exited (counted through the daemon's ``cutime``)."""
    kids: dict[int, list[int]] = defaultdict(list)
    cpu: dict[int, float] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            ppid, own, reaped = _stat(int(name))
        except (OSError, IndexError, ValueError):
            continue  # exited while we scanned
        kids[ppid].append(int(name))
        cpu[int(name)] = own + reaped
    total, todo = 0.0, list(kids[root])
    while todo:
        pid = todo.pop()
        total += cpu[pid]
        todo.extend(kids[pid])
    return total


class _Wrapped:
    """A transparent, picklable stand-in for one package function: a
    class instance pickles by reference, so a wrapped function that ends
    up shipped to a Python worker unpickles there with no recorder."""

    def __init__(self, fn, layer: str):
        functools.update_wrapper(self, fn)
        self._fn = fn
        self._layer = layer
        self._name = f"{fn.__module__.rsplit('.', 1)[1]}.{fn.__name__}"

    def __call__(self, *args, **kwargs):
        rec = _ACTIVE
        if rec is None or not rec.on:
            return self._fn(*args, **kwargs)
        with rec.span(self._name, self._layer):
            return self._fn(*args, **kwargs)


def install_wrappers(rec: "Recorder") -> None:
    """Wrap the public functions of the operators / plans / sources
    modules, then rebind every already-imported alias of an original
    (package ``__init__`` re-exports, cross-module imports) to its
    wrapper.  Must run before ``registry`` is imported."""
    global _ACTIVE
    if f"{PKG}.registry" in sys.modules:
        raise RuntimeError("install_wrappers must run before the registry import")
    _ACTIVE = rec
    swap: dict[int, _Wrapped] = {}
    for layer in WRAPPED_LAYERS:
        pkg = importlib.import_module(f"{PKG}.{layer}")
        for info in pkgutil.iter_modules(pkg.__path__):
            mod = importlib.import_module(f"{PKG}.{layer}.{info.name}")
            for name, obj in list(vars(mod).items()):
                if (
                    inspect.isfunction(obj)
                    and not name.startswith("_")
                    and obj.__module__ == mod.__name__
                ):
                    swap[id(obj)] = _Wrapped(obj, layer)
    for modname, mod in list(sys.modules.items()):
        if modname == PKG or modname.startswith(PKG + "."):
            for name, obj in list(vars(mod).items()):
                if id(obj) in swap and inspect.isfunction(obj):
                    setattr(mod, name, swap[id(obj)])
    _install_checkpoint_wrappers()
    _install_py4j_counter()


def _install_checkpoint_wrappers() -> None:
    from pyspark.sql.classic.dataframe import DataFrame

    for meth in CHECKPOINT_METHODS:
        orig = getattr(DataFrame, meth)

        def wrapped(self, *args, __orig=orig, __meth=meth, **kwargs):
            rec = _ACTIVE
            if rec is None or not rec.on or rec.in_checkpoint():
                return __orig(self, *args, **kwargs)
            caller = sys._getframe(1).f_globals.get("__name__", "")
            parts = caller.split(".")
            owner = parts[1] if parts[0] == PKG and len(parts) > 2 else "bench"
            with rec.span(f"{__meth}@{caller}", "checkpoint", owner=owner):
                return __orig(self, *args, **kwargs)

        functools.update_wrapper(wrapped, orig)
        setattr(DataFrame, meth, wrapped)


def _install_py4j_counter() -> None:
    from py4j.clientserver import JavaClient

    orig = JavaClient.send_command

    def send_command(self, *args, **kwargs):
        rec = _ACTIVE
        if rec is not None and rec.on:
            rec.count_py4j()
        return orig(self, *args, **kwargs)

    JavaClient.send_command = send_command


class Recorder:
    """Spans and counters of one traced run, kept in memory."""

    def __init__(self):
        self.on = False
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._py4j = 0
        self.root: dict | None = None

    # -- counters -------------------------------------------------------
    def count_py4j(self) -> None:
        with self._lock:
            self._py4j += 1

    # -- spans ----------------------------------------------------------
    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def in_checkpoint(self) -> bool:
        return any(s["layer"] == "checkpoint" for s in self._stack())

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        st = self._stack()
        parent = st[-1] if st else self.root
        sp = {
            "id": len(self.spans),
            "parent": parent["id"] if parent else None,
            "depth": parent["depth"] + 1 if parent else 0,
            "name": name,
            "layer": layer,
            "start": time.time(),
            "end": None,
            "py4j0": self._py4j,
            **attrs,
        }
        with self._lock:
            self.spans.append(sp)
        st.append(sp)
        try:
            yield sp
        finally:
            st.pop()
            sp["end"] = time.time()
            sp["py4j"] = self._py4j - sp.pop("py4j0")

    @contextmanager
    def query(self, name: str):
        """Root span of one query; pooled threads' spans hang off it."""
        with self.span(name, "bench") as sp:
            self.root = sp
            try:
                yield sp
            finally:
                self.root = None


def read_jobs(spark, first: int, last: int) -> tuple[list[dict], dict[str, float]]:
    """Jobs ``first <= id < last`` from the status store, and the stage
    totals over the distinct stages they ran."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    store = sc.statusStore()
    jobs, stage_ids = [], set()
    for jid in range(first, last):
        jd = store.job(jid)
        sub, done = jd.submissionTime(), jd.completionTime()
        it = jd.stageIds().iterator()
        while it.hasNext():
            stage_ids.add(int(it.next()))
        jobs.append(
            {
                "id": jid,
                "start": sub.get().getTime() / 1000.0 if sub.isDefined() else None,
                "end": done.get().getTime() / 1000.0 if done.isDefined() else None,
                "status": jd.status().toString(),
            }
        )
    tot = defaultdict(float)
    for sid in stage_ids:
        sd = store.lastStageAttempt(sid)
        if sd.status().toString() == "SKIPPED":
            continue
        tot["stages"] += 1
        tot["tasks"] += sd.numTasks()
        tot["failed_tasks"] += sd.numFailedTasks()
        tot["executor_run_s"] += sd.executorRunTime() / 1e3
        tot["executor_cpu_s"] += sd.executorCpuTime() / 1e9
        tot["gc_s"] += sd.jvmGcTime() / 1e3
        tot["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        tot["shuffle_read_bytes"] += sd.shuffleReadBytes()
        tot["spill_disk_bytes"] += sd.diskBytesSpilled()
        tot["spill_mem_bytes"] += sd.memoryBytesSpilled()
    tot["jobs"] = len(jobs)
    tot["failed_jobs"] = sum(j["status"] != "SUCCEEDED" for j in jobs)
    return jobs, dict(tot)


def attach_jobs(rec: Recorder, root: dict, jobs: list[dict]) -> None:
    """Add one ``spark`` span per job under the deepest span of ``root``'s
    tree that was open when the job was submitted."""
    tree = subtree(rec, root)
    for j in jobs:
        if j["start"] is None or j["end"] is None:
            continue
        start = min(max(j["start"], root["start"]), root["end"])
        end = min(max(j["end"], start), root["end"])
        holder = max(
            (s for s in tree if s["start"] <= start <= s["end"] and s["layer"] != "spark"),
            key=lambda s: s["depth"],
        )
        sp = {
            "id": len(rec.spans),
            "parent": holder["id"],
            "depth": holder["depth"] + 1,
            "name": f"job {j['id']}",
            "layer": "spark",
            "start": start,
            "end": end,
            "py4j": 0,
        }
        rec.spans.append(sp)
        tree.append(sp)


def subtree(rec: Recorder, root: dict) -> list[dict]:
    ids, out = {root["id"]}, [root]
    for s in rec.spans[root["id"] + 1:]:
        if s["parent"] in ids:
            ids.add(s["id"])
            out.append(s)
    return out


def self_times(spans: list[dict]) -> dict[str, float]:
    """Exclusive time per layer: every instant of the root's interval goes
    to the deepest span open at that instant, so the layers sum to the
    root's wall time exactly (overlapping pooled jobs are not counted
    twice)."""
    pts = sorted({s["start"] for s in spans} | {s["end"] for s in spans})
    out: dict[str, float] = defaultdict(float)
    for a, b in zip(pts, pts[1:]):
        open_ = [s for s in spans if s["start"] <= a and s["end"] >= b]
        if open_:
            out[max(open_, key=lambda s: s["depth"])["layer"]] += b - a
    return dict(out)


def catalyst_phases(df) -> dict[str, float]:
    """Re-plan ``df`` and return its planning-tracker phases in seconds."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    out, it = {}, qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[str(kv._1())] = kv._2().durationMs() / 1e3
    return out
