"""Spans, Spark event-log counters and host counters for the traced run.

Spans are recorded around the calls the benchmark makes into the
library and around library functions it reaches indirectly (patched
from here, never edited in the package). A span's self time is its
duration minus the part of it its children cover. Each span also
labels the Spark jobs it starts through the thread's job group, so the
event log attributes task time, shuffle, spill and Python-worker bytes
to the innermost span that caused them.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import os
import threading
import time
from collections import defaultdict

GROUP_PREFIX = "perfbench-span-"


class Tracer:
    """In-memory span recorder. Disabled tracers record nothing and
    cost one attribute check per call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: dict[int, dict] = {}
        self._ids = itertools.count(1)
        self._tls = threading.local()
        self._lock = threading.Lock()
        self.sc = None  # SparkContext, set once the session exists
        # the client span of the request in flight: parent of spans
        # opened in the server's handler thread (closed loop, one client)
        self.request_span: int | None = None

    def _stack(self) -> list[int]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else self.request_span
        sid = next(self._ids)
        rec = {"id": sid, "name": name, "parent": parent,
               "t0": time.perf_counter(), "t1": None, **attrs}
        with self._lock:
            self.spans[sid] = rec
        stack.append(sid)
        self._set_group(sid, name)
        try:
            yield rec
        finally:
            rec["t1"] = time.perf_counter()
            stack.pop()
            if stack:
                self._set_group(stack[-1], self.spans[stack[-1]]["name"])
            else:
                self._set_group(None, None)

    def _set_group(self, sid: int | None, name: str | None) -> None:
        if self.sc is None:
            return
        self.sc.setLocalProperty(
            "spark.jobGroup.id", f"{GROUP_PREFIX}{sid}" if sid else None
        )
        self.sc.setLocalProperty("spark.job.description", name)

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as a span ``name``."""

        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapped

    # -- derived views -------------------------------------------------

    def self_times(self) -> dict[int, float]:
        """span id → duration minus the union of its children's
        intervals (clipped to the span)."""
        kids: dict[int | None, list[dict]] = defaultdict(list)
        for s in self.spans.values():
            kids[s["parent"]].append(s)
        out = {}
        for sid, s in self.spans.items():
            t0, t1 = s["t0"], s["t1"] if s["t1"] is not None else s["t0"]
            covered, end = 0.0, t0
            for a, b in sorted(
                (max(c["t0"], t0), min(c["t1"] or c["t0"], t1))
                for c in kids.get(sid, ())
            ):
                if b <= end:
                    continue
                covered += b - max(a, end)
                end = b
            out[sid] = (t1 - t0) - covered
        return out

    def root_of(self, sid: int) -> dict:
        s = self.spans[sid]
        while s["parent"] is not None:
            s = self.spans[s["parent"]]
        return s

    def ancestor(self, sid: int, name: str) -> dict | None:
        """The span ``sid`` or its nearest ancestor named ``name``."""
        s = self.spans.get(sid)
        while s is not None:
            if s["name"] == name:
                return s
            s = self.spans.get(s["parent"])
        return None


def instrument(tracer: Tracer) -> None:
    """Patch the library entry points the benchmark reaches indirectly
    (through the HTTP server, the realtime indexer and the search
    path) so each call records a span. Only the traced run calls
    this."""
    import seekstorm_spark.functions.highlight as hl
    import seekstorm_spark.query.docstore as ds
    import seekstorm_spark.query.engine as eng
    import seekstorm_spark.server as srv
    import seekstorm_spark.streaming.incremental as inc
    import seekstorm_spark.tokenizer as tok

    def with_exec(plan_name, exec_name, fn):
        # plan = the call that returns the lazy DataFrame; exec = its
        # action, timed by wrapping collect() on the returned instance
        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            staged = bool(kwargs.get("staged"))
            pn = plan_name.replace("engine.", "engine.staged_") if staged else plan_name
            en = exec_name.replace("engine.", "engine.staged_") if staged else exec_name
            with tracer.span(pn):
                df = fn(*args, **kwargs)
            collect = df.collect
            df.collect = tracer.wrap(en, collect)
            return df

        return wrapped

    srv.search = with_exec("engine.plan", "engine.exec", srv.search)
    eng.search_many = with_exec(
        "engine.batch_plan", "engine.batch_exec", eng.search_many
    )
    eng.parse_query = tracer.wrap("tokenizer.parse_query", eng.parse_query)
    tok.parse_query = tracer.wrap("tokenizer.parse_query", tok.parse_query)
    eng.delete_documents = tracer.wrap("engine.delete", eng.delete_documents)
    ds.DocStore.get_many = tracer.wrap("docstore.get_many", ds.DocStore.get_many)
    hl.kwic_fragment_py = tracer.wrap("highlight", hl.kwic_fragment_py)
    inc.stage_batch = tracer.wrap("incremental.stage", inc.stage_batch)
    inc.commit_batch = tracer.wrap("incremental.commit", inc.commit_batch)
    for meth in ("query", "query_batch", "add_docs", "commit", "delete"):
        setattr(
            srv.IndexService, meth,
            tracer.wrap(f"server.{meth}", getattr(srv.IndexService, meth)),
        )


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

_ZERO = {
    "jobs": 0, "tasks": 0, "task_cpu_s": 0.0, "task_run_s": 0.0,
    "shuffle_write_mb": 0.0, "shuffle_records": 0, "spill_mb": 0.0,
    "python_sent_mb": 0.0, "python_returned_mb": 0.0, "input_records": 0,
    "output_mb": 0.0,
}


def read_event_log(log_dir: str) -> dict[int, dict]:
    """span id → Spark counters of the jobs run under its job group."""
    jobs_of_group: dict[str, list[int]] = defaultdict(list)
    stage_job: dict[int, int] = {}
    job_group: dict[int, str] = {}
    tasks: list[dict] = []
    files = sorted(
        os.path.join(dp, f) for dp, _, fs in os.walk(log_dir) for f in fs
        if not f.startswith(".")
    )
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    job_group[jid] = gid
                    jobs_of_group[gid].append(jid)
                    for st in ev.get("Stage IDs", []):
                        stage_job.setdefault(st, jid)
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(ev)
    out: dict[int, dict] = {}

    def rec_for(gid):
        if not gid or not gid.startswith(GROUP_PREFIX):
            return None
        sid = int(gid[len(GROUP_PREFIX):])
        return out.setdefault(sid, dict(_ZERO))

    for gid, jids in jobs_of_group.items():
        r = rec_for(gid)
        if r is not None:
            r["jobs"] += len(jids)
    for ev in tasks:
        jid = stage_job.get(ev.get("Stage ID"))
        r = rec_for(job_group.get(jid))
        if r is None:
            continue
        m = ev.get("Task Metrics") or {}
        sw = m.get("Shuffle Write Metrics") or {}
        r["tasks"] += 1
        r["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        r["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
        r["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
        r["shuffle_records"] += sw.get("Shuffle Records Written", 0)
        r["spill_mb"] += (
            m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        ) / 1e6
        r["input_records"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
        r["output_mb"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0) / 1e6
        for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
            nm = str(acc.get("Name", ""))
            try:
                upd = float(acc.get("Update", 0))
            except (TypeError, ValueError):
                continue
            if "sent to Python" in nm:
                r["python_sent_mb"] += upd / 1e6
            elif "returned from Python" in nm:
                r["python_returned_mb"] += upd / 1e6
    return out


# ---------------------------------------------------------------------------
# host counters
# ---------------------------------------------------------------------------


def proc_tree() -> dict[int, tuple[str, list[str]]]:
    """pid → (name, the /proc stat fields after the name) of this process
    and every live process under it: the driver, the JVM, its Python
    daemon and workers."""
    stats: dict[int, tuple[str, list[str]]] = {}
    kids: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                st = f.read()
        except OSError:
            continue
        fields = st[st.rindex(")") + 2:].split()
        stats[int(d)] = (st[st.index("(") + 1:st.rindex(")")], fields)
        kids[int(fields[1])].append(int(d))
    out: dict[int, tuple[str, list[str]]] = {}
    todo = [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in stats and pid not in out:
            out[pid] = stats[pid]
            todo += kids[pid]
    return out


_TICKS_PER_S = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system, with those of reaped children) used
    so far by this process and every process under it. The kernel
    charges hypervisor steal to no process, so unlike a wall time this
    does not grow in a steal phase."""
    return sum(sum(int(x) for x in f[11:15])
               for _, f in proc_tree().values()) / _TICKS_PER_S


def cpu_totals() -> tuple[int, int, int]:
    """(total, idle+iowait, steal) jiffies from /proc/stat — the same
    aggregate-cpu-line reading bench.py uses for hypervisor steal."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0, 0
    idle = vals[3] + (vals[4] if len(vals) > 4 else 0)
    steal = vals[7] if len(vals) > 7 else 0
    return sum(vals), idle, steal


def host_usage(a: tuple[int, int, int], b: tuple[int, int, int]) -> dict:
    dt = b[0] - a[0]
    if dt <= 0:
        return {"steal_pct": 0.0, "cpu_busy_frac": 0.0}
    return {
        "steal_pct": 100.0 * (b[2] - a[2]) / dt,
        "cpu_busy_frac": 1.0 - (b[1] - a[1]) / dt,
    }


def wait_out_steal(limit_pct: float = 2.0, max_wait_s: float = 5.0) -> dict:
    """Sample steal over 1 s windows until it reads below ``limit_pct``
    or ``max_wait_s`` has passed; the samples go into the run record
    either way."""
    samples, t_start = [], time.perf_counter()
    while True:
        a = cpu_totals()
        time.sleep(1.0)
        pct = host_usage(a, cpu_totals())["steal_pct"]
        samples.append(round(pct, 3))
        waited = time.perf_counter() - t_start
        if pct < limit_pct or waited >= max_wait_s:
            return {"samples_pct": samples, "passed": pct < limit_pct,
                    "waited_s": round(waited, 2)}


def jvm_live_bytes(sc) -> int:
    """Bytes the JVM holds after a full collection: live heap, non-heap
    (metaspace, code cache) and direct buffers. The JVM's resident size
    is no measure of this; it follows when the collector chose to grow
    the heap."""
    jvm = sc._jvm
    mf = jvm.java.lang.management.ManagementFactory
    jvm.java.lang.System.gc()
    mem = mf.getMemoryMXBean()
    total = mem.getHeapMemoryUsage().getUsed() + mem.getNonHeapMemoryUsage().getUsed()
    pools = jvm.java.lang.Class.forName("java.lang.management.BufferPoolMXBean")
    for pool in mf.getPlatformMXBeans(pools):
        total += pool.getMemoryUsed()
    return int(total)


class MemSampler:
    """Peak memory of this process and its Python descendants (the
    JVM's Python workers), sampled on a background thread; the JVM is
    read by jvm_live_bytes. Each process counts its proportional set
    size (PSS: resident pages, shared pages split among the processes
    sharing them), so forked Python workers do not count the pages they
    share with their parent over and over."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self.peak_parts: dict[str, int] = {}  # process name → bytes at the peak
        self._stop = threading.Event()
        self._paused = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def _pss(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        return int(line.split()[1]) * 1024
        except (OSError, ValueError):
            pass
        return 0

    def _tree_bytes(self) -> dict[str, int]:
        me = os.getpid()
        parts: dict[str, int] = {}
        for pid, (comm, _) in proc_tree().items():
            name = "driver" if pid == me else comm
            parts[name] = parts.get(name, 0) + self._pss(pid)
        return parts

    @contextlib.contextmanager
    def paused(self):
        """No samples while the block runs (the benchmark's own oracle
        work, in a child process that has exited when it ends)."""
        self._paused.set()
        try:
            yield
        finally:
            self._paused.clear()

    def _loop(self):
        while not self._stop.is_set():
            if self._paused.is_set():
                self._stop.wait(self.interval_s)
                continue
            parts = self._tree_bytes()
            total = sum(v for k, v in parts.items() if k != "java")
            if total > self.peak_bytes:
                self.peak_bytes, self.peak_parts = total, parts
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()

    def __exit__(self, *exc):
        self.stop()
