"""The workloads: ``serve`` and ``operators``.

Each one sets up (session start, inputs ready, one warm-up round),
computes or loads its expected answers, measures a closed loop for
``ctx.seconds`` seconds and then checks every answer it got. The
client is one thread that sends its next request only after the
previous one returned.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import time

import check
import inputs
from spans import tree_cpu_s

# input sizes (smoke mode shrinks them so a run finishes in seconds)
SIZES = {
    "serve": {"docs": 2000, "singles": 32, "batch": 100},
    "write": {"batch_docs": 50, "deletes": 10, "queries": 2},
    "operators": inputs.SF01_ROWS,
}
SMOKE_SIZES = {
    "serve": {"docs": 300, "singles": 8, "batch": 16},
    "write": {"batch_docs": 20, "deletes": 5, "queries": 2},
    "operators": {"documents": 300, "embeddings": 200, "lineitem": 2000, "events": 2000},
}


INDEX = "pb"


class Run:
    """What a workload reports back: set-up wall, per-round operation
    walls and CPU, batch throughput, and how many operations it
    attempted and got wrong."""

    def __init__(self):
        self.setup_s = 0.0
        self.rounds: list[list[float]] = []
        self.round_cpu: list[float] = []  # CPU seconds per operation, per round
        self.throughput: list[float] = []  # queries per second, per batch
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.extra: dict = {}

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(what)

    @contextlib.contextmanager
    def round(self):
        """One round of the mix (every operation kind once): yields the
        list its operation walls go into, and records the CPU seconds
        the process tree spent per operation of the round."""
        walls: list[float] = []
        c0 = tree_cpu_s()
        yield walls
        self.round_cpu.append((tree_cpu_s() - c0) / len(walls))
        self.rounds.append(walls)

    def e2e(self) -> dict:
        """op_cpu_s: median over the window's rounds of the CPU seconds
        per operation (a window holds one round or more)."""
        return {"op_cpu_s": statistics.median(self.round_cpu)}

    def op_wall_s(self) -> float:
        """Median over the window's rounds of the mean operation wall."""
        return statistics.median(statistics.mean(r) for r in self.rounds)


def _session(ctx):
    from seekstorm_spark.session import get_spark

    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={ctx.tmp_dir}",
        "spark.ui.showConsoleProgress": "false",
    }
    if ctx.trace:
        os.makedirs(ctx.event_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + ctx.event_dir,
            "spark.eventLog.compress": "false",
        })
    with ctx.tracer.span("session.start"):
        spark = get_spark(
            "perfbench", master=f"local[{ctx.cpus}]",
            shuffle_partitions=max(ctx.cpus, 8), extra_conf=conf,
        )
    if ctx.trace:
        ctx.tracer.sc = spark.sparkContext
    ctx.spark = spark
    return spark


def _corpus(ctx, spark, n_docs: int):
    from seekstorm_spark.sources.webtext import synth_webtext

    path = os.path.join(ctx.work_dir, "corpus")
    with ctx.tracer.span("webtext.synth"):
        synth_webtext(spark, n_docs, seed=ctx.seed, partitions=ctx.cpus).select(
            "url", "text"
        ).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def _build_index(ctx, spark, docs, path: str):
    from seekstorm_spark.index.builder import IndexBuilder, assign_docids
    from seekstorm_spark.query.docstore import write_doc_store

    with ctx.tracer.span("builder.build"):
        store = IndexBuilder(
            spark, path, n_buckets=8, frequent_terms=inputs.FREQUENT
        ).build(docs, text_col="text", order_col="url")
    ctx.index_sizes = {
        "builder.postings_mb": _dir_mb(store.postings_path),
        "builder.term_stats_mb": _dir_mb(store.term_stats_path),
        "builder.doc_meta_mb": _dir_mb(store.doc_meta_path),
    }
    # same numbering as the build (order_col, max(n_buckets, 16))
    with ctx.tracer.span("docstore.write"):
        write_doc_store(
            assign_docids(docs, order_col="url", n_buckets=16),
            os.path.join(path, "doc_store"), id_col="docid",
            fields=["url", "text"],
        )
    ctx.index_sizes["docstore.mb"] = _dir_mb(os.path.join(path, "doc_store"))
    return store


def _dir_mb(path: str) -> float:
    return sum(os.path.getsize(f) for f in _files(path)) / 1e6


def _files(path: str, skip: str | None = None) -> list[str]:
    out = []
    for dp, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if d != skip]
        out += [os.path.join(dp, f) for f in files]
    return out


def _serve_http(spark, path: str):
    from seekstorm_spark.client import SeekClient
    from seekstorm_spark.server import serve_in_thread

    # writable: the traced run's write round posts to the same server
    srv, thread = serve_in_thread(spark, {INDEX: path}, writable=True)
    client = SeekClient(f"http://127.0.0.1:{srv.server_address[1]}")
    return srv, thread, client


def _stop_http(srv, thread) -> None:
    srv.shutdown()
    srv.server_close()
    thread.join(timeout=30)


def _request(ctx, run: Run, name: str, call, **attrs):
    """One client request in a span; returns (wall, response|None)."""
    tracer = ctx.tracer
    run.attempted += 1
    with tracer.span(name, **attrs) as sp:
        if sp is not None:
            tracer.request_span = sp["id"]
        t0 = time.perf_counter()
        try:
            resp = call()
        except Exception as e:  # refused, non-2xx or transport error
            resp = None
            run.fail(f"{name}: {type(e).__name__}: {str(e)[:200]}")
        wall = time.perf_counter() - t0
        tracer.request_span = None
    return wall, resp


def _measure(ctx, run: Run, window) -> None:
    """Wait out a steal phase, then run the timed ``window(w0)`` once;
    the window's steal and CPU use go into the run record."""
    ctx.before_window()
    w0 = time.perf_counter()
    with ctx.tracer.span("run.window"):
        window(w0)
    run.extra["window_s"] = time.perf_counter() - w0
    ctx.after_window()


def _pairs(results: list[dict]) -> list[tuple[int, float]]:
    return [(int(r["docid"]), float(r["score"])) for r in results]


# ---------------------------------------------------------------------------
# serve
# ---------------------------------------------------------------------------


def serve(ctx) -> Run:
    from seekstorm_spark.query.result_cache import build_result_cache

    run, sz, tracer = Run(), ctx.sizes["serve"], ctx.tracer
    singles = inputs.serve_queries(ctx.seed, sz["singles"])
    # /query_batch traffic feeds only per-layer metrics: traced runs only
    batch = inputs.batch_queries(ctx.seed, sz["batch"]) if ctx.trace else []
    hl = {"field": "text", "width": 30}

    t0 = time.perf_counter()
    with tracer.span("run.setup"):
        spark = _session(ctx)
        docs = _corpus(ctx, spark, sz["docs"])
        path = os.path.join(ctx.work_dir, "index")
        store = _build_index(ctx, spark, docs, path)
        with tracer.span("result_cache.build"):
            cached_terms = build_result_cache(spark, store)
        # a serving session: AQE re-planning costs more than it saves
        # on point queries (the setting bench.py's query phase uses)
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        srv, thread, client = _serve_http(spark, path)
        # warm-up: one single request (not measured, answer checked
        # with the window's)
        cls0, q0, dt0 = singles[0]
        got_singles = [(0, cls0, _request(ctx, run, "client.query", lambda: client.query(
            INDEX, q0, top_k=10, default_type=dt0, highlight=hl))[1])]
    run.setup_s = time.perf_counter() - t0
    got_batches = []
    if batch:  # warm-up batch, outside set-up so both kinds of run time the same set-up
        with tracer.span("run.batch_warmup"):
            got_batches.append(_request(
                ctx, run, "client.query_batch",
                lambda: client.query_batch(INDEX, batch, top_k=10))[1])

    texts = check.read_doc_store_texts(os.path.join(path, "doc_store"))
    want = check.cached(
        ctx.cache_dir, "serve",
        {"texts": check.digest(texts), "singles": singles, "batch": batch},
        _serve_answers, texts, singles, batch, pause=ctx.mem.paused(),
    )
    # rounds of one request per query class, so every round has the
    # same composition; then, in a traced run, batches for the rest of
    # the window
    n_cls = len(inputs.SERVE_CLASSES)

    def window(w0):
        run.extra["rows_returned"] = 0
        while not run.rounds or time.perf_counter() - w0 < 0.7 * ctx.seconds:
            with run.round() as walls:
                for _ in range(n_cls):
                    j = len(got_singles) % len(singles)
                    cls, q, dt = singles[j]
                    wall, resp = _request(ctx, run, "client.query", lambda: client.query(
                        INDEX, q, top_k=10, default_type=dt, highlight=hl), cls=cls)
                    walls.append(wall)
                    got_singles.append((j, cls, resp))
                    run.extra["rows_returned"] += len((resp or {}).get("results", []))
        while batch and (not run.throughput or time.perf_counter() - w0 < ctx.seconds):
            wall, resp = _request(ctx, run, "client.query_batch",
                                  lambda: client.query_batch(INDEX, batch, top_k=10))
            run.throughput.append(len(batch) / wall)
            got_batches.append(resp)

    _measure(ctx, run, window)

    for j, cls, resp in got_singles:
        if resp is None:
            continue
        exp = want["singles"][j]["top"]
        res = resp.get("results", [])
        if not check.same_topk(_pairs(res), exp):
            run.fail(f"serve {cls} {singles[j][1]!r}: {_pairs(res)[:3]} vs {exp[:3]}")
        elif [r.get("fragment") for r in res] != want["singles"][j]["fragments"]:
            run.fail(f"serve highlight {singles[j][1]!r}")
    for resp in got_batches:
        if resp is None:
            continue
        for q, got, exp in zip(batch, resp.get("results", []), want["batch"]):
            if not check.same_topk(_pairs(got), exp["top"]):
                run.fail(f"serve batch {q!r}")
    # exact match count of one query, outside the window
    from seekstorm_spark.query.engine import count_matches

    run.attempted += 1
    if count_matches(spark, store, q0, dt0) != want["singles"][0]["count"]:
        run.fail(f"serve count {q0!r}")
    run.extra.update(
        n_single=len(got_singles), n_batch=len(got_batches),
        cached_terms=len(cached_terms),
    )
    ctx.spark = spark
    ctx.text_bytes = sum(len(t.encode()) for t in texts.values())
    try:
        if ctx.trace:
            _write_phase(ctx, run, spark, client, path, texts)
    finally:
        _stop_http(srv, thread)
    return run


def _serve_answers(texts, singles, batch) -> dict:
    return {
        "singles": check.expected_topk(
            texts, [(q, dt) for _, q, dt in singles], highlight=True),
        "batch": check.expected_topk(texts, [(q, "union") for q in batch]),
    }


# ---------------------------------------------------------------------------
# the write phase: after the read-only window, outside every e2e metric
# ---------------------------------------------------------------------------


def _write_phase(ctx, run: Run, spark, client, path: str, base_texts: dict) -> None:
    """One realtime round through the same server: POST a batch of
    fresh docs, delete base docids, run realtime queries that see the
    staged batch and the deletes, commit, then compact. Feeds the
    incremental / staged-query / delete / compaction layers of the
    traced run and gates their answers. No end-to-end metric times it,
    so untraced runs, the many repeated ones, skip it."""
    import numpy as np

    from seekstorm_spark.index.compaction import compact
    from seekstorm_spark.index.store import IndexStore
    from seekstorm_spark.query.engine import search

    sz, tracer = ctx.sizes["write"], ctx.tracer
    docs = inputs.fresh_docs(ctx.seed, sz["batch_docs"])
    queries = inputs.write_queries(ctx.seed, sz["queries"])
    rng = np.random.default_rng([ctx.seed, 5])
    deleted = sorted(int(d) for d in rng.choice(len(base_texts), sz["deletes"], replace=False))
    ctx.files_added = [len(_files(path, "_staging"))]
    got = []
    with tracer.span("run.write"):
        _request(ctx, run, "client.add_docs", lambda: client.index_documents(INDEX, docs))
        _request(ctx, run, "client.delete", lambda: client.delete_by_docid(INDEX, deleted))
        for q, dt in queries:
            _, resp = _request(ctx, run, "client.query", lambda: client.query(
                INDEX, q, top_k=10, default_type=dt))
            got.append(resp)
        _request(ctx, run, "client.commit", lambda: client.commit(INDEX))
        ctx.files_added.append(len(_files(path, "_staging")))
        with tracer.span("compaction.compact"):
            store = compact(spark, IndexStore.open(path))

    texts = {**base_texts, **_staged_docids(spark, len(base_texts), docs)}
    want = check.cached(
        ctx.cache_dir, "write",
        {"texts": check.digest(texts), "queries": queries, "deleted": deleted},
        check.expected_topk, texts, queries, 10, frozenset(deleted),
        pause=ctx.mem.paused(),
    )
    for (q, _), resp, exp in zip(queries, got, want):
        if resp is not None and not check.same_topk(_pairs(resp.get("results", [])), exp["top"]):
            run.fail(f"realtime {q!r}")
    # compacted == a fresh build over the live docs (same docids)
    live = {d: t for d, t in texts.items() if d not in set(deleted)}
    want_live = check.cached(
        ctx.cache_dir, "compacted", {"texts": check.digest(live), "queries": queries},
        check.expected_topk, live, queries, pause=ctx.mem.paused(),
    )
    for (q, dt), exp in zip(queries, want_live):
        run.attempted += 1
        res = [(int(r["docid"]), float(r["score"]))
               for r in search(spark, store, q, top_k=10, default_type=dt).collect()]
        if not check.same_topk(res, exp["top"]):
            run.fail(f"compacted {q!r}")


def _staged_docids(spark, n_base: int, docs: list[dict]) -> dict[int, str]:
    """docid → text of a batch staged through the realtime indexer. It
    numbers the batch from the next 64k block boundary in the order
    assign_docids(order_col="text", n_buckets=16) gives: hash partition
    on the text, sorted within the partition."""
    import pandas as pd

    rows = (
        spark.createDataFrame(pd.DataFrame({"text": [d["text"] for d in docs]}))
        .repartition(16, "text").sortWithinPartitions("text")
        .collect()
    )
    start = -(-n_base // 65536) * 65536
    # collect() returns partitions in order, each sorted by text
    return {start + j: r["text"] for j, r in enumerate(rows)}


# ---------------------------------------------------------------------------
# operators
# ---------------------------------------------------------------------------


def operators(ctx) -> Run:
    import __spark_entry__ as entrymod

    run, sz, tracer = Run(), ctx.sizes["operators"], ctx.tracer
    table_dir = os.path.join(ctx.work_dir, "tables")
    qs = entrymod.queries()

    def one_pass(record: list, walls: list | None = None):
        total = 0.0
        for name in inputs.OPERATOR_QUERIES:
            run.attempted += 1
            with tracer.span(f"operators.{name}"):
                t = time.perf_counter()
                try:
                    df = qs[name](ctx.spark, table_dir)
                    rows = df.collect()
                except Exception as e:
                    rows, df = None, None
                    run.fail(f"{name}: {type(e).__name__}: {str(e)[:200]}")
                wall = time.perf_counter() - t
            total += wall
            if walls is not None:
                walls.append(wall)
            if rows is not None:
                record.append((name, df.columns, rows))
        return total

    got: list = []  # (name, columns, rows) of every pass, warm-up included
    t0 = time.perf_counter()
    with tracer.span("run.setup"):
        ctx.spark = _session(ctx)
        with tracer.span("operators.tables"), ctx.mem.paused():
            inputs.write_operator_tables(table_dir, ctx.seed, sz)
        one_pass(got)  # warm-up pass (JIT, codegen, Python workers)
    run.setup_s = time.perf_counter() - t0

    sql = entrymod.oracle_sql()
    want = check.cached(
        ctx.cache_dir, "operators",
        {"tables": check.file_digest(
            [os.path.join(table_dir, f"{t}.parquet") for t in inputs.OPERATOR_TABLES]),
         "sql": [sql[n] for n in inputs.OPERATOR_QUERIES]},
        check.duckdb_answers, table_dir, inputs.OPERATOR_QUERIES,
        pause=ctx.mem.paused(),
    )

    def window(w0):
        while not run.rounds or time.perf_counter() - w0 < ctx.seconds:
            with run.round() as walls:
                one_pass(got, walls)

    _measure(ctx, run, window)

    import pandas as pd

    for name, cols, rows in got:
        frame = pd.DataFrame([tuple(r) for r in rows], columns=cols)
        if not check.same_frame(frame, want[name]):
            run.fail(f"operators {name}: result differs from the DuckDB oracle")
    run.extra["passes"] = len(run.rounds)
    return run


WORKLOADS = {"serve": serve, "operators": operators}
