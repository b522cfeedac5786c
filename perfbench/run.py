#!/usr/bin/env python3
"""The repo benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Run it from the repository root. It starts one Spark session at
local[nproc] in this process, builds its inputs from the seed, measures
a closed loop with one client for ``--seconds`` seconds, checks every
answer against an oracle, and prints as its last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones of
BENCHMARK.json; with ``--trace 1`` the run records spans and the Spark
event log and reports the per-layer ones, and writes its ledger to
``perfbench/.work/ledgers/``. ``--smoke`` shrinks every input so a run
takes seconds (the benchmark's own tests use it).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

from inputs import OPERATOR_QUERIES  # noqa: E402  (numpy only; no engine import)

WRITE = "run.write"  # root span of serve's write round


def declared_metrics() -> dict[str, dict[str, str]]:
    """name → unit of the end-to-end and per-layer metrics that
    BENCHMARK.json declares, the one list of names and units; a run
    reports exactly these. README.md maps each layer to the end-to-end metric
    and workload it should move."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {k: {m["name"]: m["unit"] for m in spec[k]}
            for k in ("end_to_end", "per_layer")}


class Ctx:
    def __init__(self, args):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.cpus = len(os.sched_getaffinity(0))
        base = os.path.join(HERE, ".work")
        self.work_dir = os.path.join(base, "run")
        self.tmp_dir = os.path.join(base, "tmp")
        self.event_dir = os.path.join(base, "events")
        self.ledger_dir = os.path.join(base, "ledgers")
        self.results_dir = os.path.join(base, "results")
        # expected answers; the gate test points this at a perturbed copy
        self.cache_dir = os.environ.get(
            "PERFBENCH_CACHE_DIR", os.path.join(HERE, ".cache"))
        self.spark = None
        self.text_bytes = 0
        self.index_sizes: dict = {}
        self.host: dict = {}
        self.steal_gate: dict = {}
        self.jvm_bytes = 0  # jvm_live_bytes at the end of the window
        self.files_added: list[int] = []

    def before_window(self):
        from spans import cpu_totals, wait_out_steal

        self.steal_gate = wait_out_steal()
        self._cpu0 = cpu_totals()

    def after_window(self):
        from spans import cpu_totals, host_usage, jvm_live_bytes

        self.host = host_usage(self._cpu0, cpu_totals())
        # memory counts set-up and window, not the checks that follow
        self.mem.stop()
        self.jvm_bytes = jvm_live_bytes(self.spark.sparkContext)


def _launcher_env(ctx: Ctx) -> None:
    """Host settings, pinned before the JVM starts: all cores, local
    scratch inside the checkout, and a driver heap that fits a small
    host (the library default is 48g)."""
    for d in (ctx.work_dir, ctx.tmp_dir, ctx.event_dir):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(ctx.cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(ctx.tmp_dir, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    os.environ["TMPDIR"] = ctx.tmp_dir
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    sys.path[:0] = [ROOT, HERE]


def _alive(pid: int, start: str) -> bool:
    """``pid`` is still the process that started at ``start`` and has
    not ended."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return False
    return fields[19] == start and fields[0] != "Z"


def _wait_gone(procs: dict[int, str], timeout: float) -> dict[int, str]:
    """Wait until every process in ``procs`` has ended or ``timeout``
    passed; returns those still alive."""
    deadline = time.monotonic() + timeout
    while True:
        procs = {p: s for p, s in procs.items() if _alive(p, s)}
        if not procs or time.monotonic() > deadline:
            return procs
        time.sleep(0.05)


def _stop_all(spark) -> None:
    """Stop the session, then wait until every process started under
    this one (JVM, Python daemon and workers, oracle child) has ended;
    kill what is still there after 30 s."""
    from spans import proc_tree

    me = os.getpid()
    procs = {p: f[19] for p, (_, f) in proc_tree().items() if p != me}
    try:
        _stop_spark(spark)
    finally:
        left = _wait_gone(procs, 30)
        for p in left:
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
        _wait_gone(left, 30)


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit. Without a session
    (set-up failed before it returned) a JVM that was started is stopped
    all the same."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if spark is not None:
        spark.stop()
    elif SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def per_layer(ctx: Ctx, run, tracer, counters: dict, names) -> tuple[dict, dict]:
    """Per-layer metrics plus the ledger that reconciles them with the
    end-to-end walls."""
    st = tracer.self_times()
    spans = tracer.spans
    roots = {s["name"]: s for s in spans.values()
             if s["parent"] is None and s["name"].startswith("run.")}

    def in_phase(s, phase):
        return tracer.root_of(s["id"])["name"] == phase

    def named(name, phase=None):
        return [s for s in spans.values()
                if s["name"] == name and (phase is None or in_phase(s, phase))]

    def self_total(name, phase=None):
        return sum(st[s["id"]] for s in named(name, phase))

    def subtree(name, phase=None) -> dict:
        """Spark counters of every span at or under spans ``name``."""
        tops = {s["id"] for s in named(name, phase)}
        out: dict = {}
        for sid, c in counters.items():
            s = spans.get(sid)
            while s is not None and s["id"] not in tops:
                s = spans.get(s["parent"])
            if s is not None:
                for k, v in c.items():
                    out[k] = out.get(k, 0) + v
        return out

    def per(name, kind, phase="run.window"):
        n = len(named(kind, phase))
        return self_total(name, phase) / n if n else 0.0

    m = dict.fromkeys(names, 0.0)
    m["session.start_s"] = self_total("session.start")
    m["webtext.synth_s"] = self_total("webtext.synth")
    m["builder.build_s"] = self_total("builder.build")
    b = subtree("builder.build")
    for k in ("jobs", "task_cpu_s", "task_run_s", "shuffle_write_mb",
              "shuffle_records", "spill_mb", "python_sent_mb",
              "python_returned_mb"):
        m[f"builder.{k}"] = b.get(k, 0)
    for k, v in ctx.index_sizes.items():
        m[k] = v
    if ctx.text_bytes:
        m["builder.index_bytes_per_text_byte"] = (
            sum(ctx.index_sizes.get(k, 0) for k in (
                "builder.postings_mb", "builder.term_stats_mb",
                "builder.doc_meta_mb", "docstore.mb")) * 1e6 / ctx.text_bytes
        )
    m["docstore.write_s"] = self_total("docstore.write")
    m["result_cache.build_s"] = self_total("result_cache.build")

    for layer, key in (("tokenizer.parse_query", "tokenizer.parse_query_s"),
                       ("engine.plan", "engine.plan_s"),
                       ("engine.exec", "engine.exec_s"),
                       ("docstore.get_many", "docstore.get_many_s"),
                       ("highlight", "highlight.s")):
        m[key] = per(layer, "client.query")
    m["engine.batch_plan_s"] = per("engine.batch_plan", "client.query_batch")
    m["engine.batch_exec_s"] = per("engine.batch_exec", "client.query_batch")
    if run.throughput:
        m["engine.batch_qps"] = statistics.median(run.throughput)
    m["client.op_wall_s"] = run.op_wall_s()
    # the write phase: one realtime round after the read window
    m["engine.staged_plan_s"] = per("engine.staged_plan", "client.query", WRITE)
    m["engine.staged_exec_s"] = per("engine.staged_exec", "client.query", WRITE)
    m["engine.delete_s"] = per("engine.delete", "client.delete", WRITE)

    singles = named("client.query", "run.window")
    if singles:
        q = subtree("client.query", "run.window")
        m["engine.jobs_per_query"] = q.get("jobs", 0) / len(singles)
        m["engine.tasks_per_query"] = q.get("tasks", 0) / len(singles)
        m["engine.shuffle_mb_per_query"] = q.get("shuffle_write_mb", 0) / len(singles)
        rows = run.extra.get("rows_returned") or 0
        ex = subtree("engine.exec", "run.window").get("input_records", 0)
        m["engine.rows_examined_per_result"] = ex / rows if rows else 0.0
        freq = [s for s in singles if s.get("cls") == "frequent_single"]
        if freq:
            jobs_of = {}
            for sid, c in counters.items():
                top = tracer.ancestor(sid, "client.query")
                if top is not None:
                    jobs_of[top["id"]] = jobs_of.get(top["id"], 0) + c["jobs"]
            m["result_cache.hit_ratio"] = sum(
                jobs_of.get(s["id"], 0) == 0 for s in freq) / len(freq)

    clients = [s for s in spans.values()
               if s["name"].startswith("client.") and in_phase(s, "run.window")]
    if clients:
        m["server.overhead_s"] = sum(st[s["id"]] for s in clients) / len(clients)
    m["server.add_docs_self_s"] = per("server.add_docs", "client.add_docs", WRITE)
    m["incremental.stage_s"] = per("incremental.stage", "client.add_docs", WRITE)
    adds = named("client.add_docs", WRITE)
    if adds:
        m["incremental.stage_jobs"] = (
            subtree("incremental.stage", WRITE).get("jobs", 0) / len(adds))
        m["incremental.files_added_per_batch"] = (
            (ctx.files_added[1] - ctx.files_added[0]) / len(adds)
            if len(ctx.files_added) == 2 else 0.0)
    m["incremental.commit_s"] = per("incremental.commit", "client.commit", WRITE)
    m["compaction.compact_s"] = self_total("compaction.compact")
    c = subtree("compaction.compact")
    m["compaction.task_cpu_s"] = c.get("task_cpu_s", 0.0)
    m["compaction.shuffle_mb"] = c.get("shuffle_write_mb", 0.0)
    m["compaction.rewritten_mb"] = c.get("output_mb", 0.0)

    passes = run.extra.get("passes") or 0
    if passes:
        for n in OPERATOR_QUERIES:
            m[f"operators.{n}_s"] = self_total(f"operators.{n}", "run.window") / passes
        jobs = shuffle = 0.0
        for n in OPERATOR_QUERIES:
            o = subtree(f"operators.{n}", "run.window")
            jobs += o.get("jobs", 0)
            shuffle += o.get("shuffle_write_mb", 0.0)
        m["operators.jobs"] = jobs / passes
        m["operators.shuffle_mb"] = shuffle / passes

    m["host.steal_pct"] = ctx.host.get("steal_pct", 0.0)
    m["host.cpu_busy_frac"] = ctx.host.get("cpu_busy_frac", 0.0)

    # ledger: every root span's wall split into per-layer self time
    phases = {}
    for name, root in roots.items():
        wall = root["t1"] - root["t0"]
        layers: dict[str, float] = {}
        for s in spans.values():
            if s["id"] != root["id"] and tracer.root_of(s["id"])["id"] == root["id"]:
                layers[s["name"]] = layers.get(s["name"], 0.0) + st[s["id"]]
        phases[name] = {
            "wall_s": wall,
            "unattributed_s": st[root["id"]],
            "unattributed_frac": st[root["id"]] / wall if wall else 0.0,
            "self_s": dict(sorted(layers.items(), key=lambda kv: -kv[1])),
        }
    m["trace.unattributed_frac"] = max(
        (p["unattributed_frac"] for n, p in phases.items()
         if n in ("run.setup", "run.window", WRITE)), default=0.0)
    layer_counters: dict[str, dict] = {}
    for sid, cnt in counters.items():
        nm = spans[sid]["name"] if sid in spans else "?"
        acc = layer_counters.setdefault(nm, {})
        for k, v in cnt.items():
            acc[k] = acc.get(k, 0) + v
    ledger = {"phases": phases, "spark_by_layer": layer_counters}
    return m, ledger


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs: a run finishes in seconds")
    args = ap.parse_args(argv)

    missing = [p for p in ("seekstorm_spark", "__spark_entry__.py")
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: {ROOT} is not a checkout of the engine "
              f"(missing {', '.join(missing)})", file=sys.stderr)
        return 2

    ctx = Ctx(args)
    _launcher_env(ctx)
    import check  # noqa: F401  (binds the oracle before any patching)
    import spans
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    ctx.sizes = workloads.SMOKE_SIZES if args.smoke else workloads.SIZES
    tracer = spans.Tracer(ctx.trace)
    ctx.tracer = tracer
    if ctx.trace:
        spans.instrument(tracer)

    with spans.MemSampler() as mem:
        ctx.mem = mem
        try:
            run = workloads.WORKLOADS[args.workload](ctx)
        finally:
            _stop_all(ctx.spark)

    units = declared_metrics()["per_layer" if ctx.trace else "end_to_end"]
    if ctx.trace:
        counters = spans.read_event_log(ctx.event_dir)
        metrics, ledger = per_layer(ctx, run, tracer, counters, units)
    else:
        metrics = {"setup_s": run.setup_s, **run.e2e(),
                   "mem_mb": (mem.peak_bytes + ctx.jvm_bytes) / 1e6}
    if set(metrics) != set(units):
        raise RuntimeError(
            f"measured metrics {sorted(set(metrics) ^ set(units))} do not "
            "match BENCHMARK.json")

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": int(ctx.trace), "smoke": args.smoke, "cpus": ctx.cpus,
        "metrics": metrics, "setup_s": run.setup_s, "e2e": run.e2e(),
        "python_peak_mb": mem.peak_bytes / 1e6, "jvm_live_mb": ctx.jvm_bytes / 1e6,
        "rounds_s": run.rounds,
        "round_cpu_s": run.round_cpu,
        "throughput_per_s": run.throughput,
        "peak_mem_parts_mb": {k: v / 1e6 for k, v in mem.peak_parts.items()},
        "host": ctx.host, "steal_gate": ctx.steal_gate, "extra": run.extra,
        "attempted": run.attempted, "failed": run.failed, "errors": run.errors,
    }
    tag = f"{args.workload}-seed{args.seed}{'-smoke' if args.smoke else ''}"
    os.makedirs(ctx.results_dir, exist_ok=True)
    if ctx.trace:
        ref_path = os.path.join(ctx.results_dir, f"{tag}-trace0.json")
        if os.path.exists(ref_path):
            with open(ref_path) as f:
                ref = json.load(f)
            traced = {"setup_s": run.setup_s, **run.e2e()}
            ledger["trace_overhead_frac"] = {
                k: traced[k] / ref["metrics"][k] - 1.0
                for k in traced if ref["metrics"].get(k)
            }
        ledger["run"] = record
        os.makedirs(ctx.ledger_dir, exist_ok=True)
        with open(os.path.join(ctx.ledger_dir, f"{tag}.json"), "w") as f:
            json.dump(ledger, f, indent=1, sort_keys=True)
    with open(os.path.join(ctx.results_dir, f"{tag}-trace{int(ctx.trace)}.json"), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    for e in run.errors:
        print(f"perfbench: wrong answer or error: {e}", file=sys.stderr)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }))
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
