"""The workloads. Each is a closed loop with one client: the next request
is sent when the previous one has returned, in whole cycles until
``--seconds`` have passed. Correctness checks run after the window."""

from __future__ import annotations

import os
import statistics
import time
import traceback
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field
from pathlib import Path

import pandas as pd

import inputs
from oracle import Oracle
from spans import Tracer, exchange_count, executed_plan, job_counts, job_group, wait_for_listeners

from multi_attribute_join_search_with_mapreduce_spark import index as index_module
from multi_attribute_join_search_with_mapreduce_spark.index import (
    WIDE_LAKE_TABLES,
    TableSpec,
    append_floored_index,
    cached_posting_index,
    fsck_floored_store,
    read_floored_index,
    write_floored_index,
)
from multi_attribute_join_search_with_mapreduce_spark.operators.search import (
    multi_attribute_join_search,
    multi_attribute_join_search_batch,
    search_stages,
)
from multi_attribute_join_search_with_mapreduce_spark.session import get_spark

SINGLES_PER_CYCLE = 2  # single searches per batch in the search workload
FLOOR = 2  # min_key_freq of the floored store
# The JVM heap is fixed and touched at start-up: with a heap that grows
# on demand, the JVM grows it by a different amount in every run and peak
# RSS follows. Fixed, peak RSS moves with the memory held outside the heap.
HEAP = "2g"


@dataclass
class Run:
    """State of one benchmark run, shared by setup, window and checks."""

    seed: int
    seconds: float
    trace: bool
    work: Path
    lake_dir: Path
    lake: dict[str, pd.DataFrame]
    t_setup: float  # perf_counter when set-up began
    tracer: Tracer = None
    spark: object = None
    attempted: int = 0
    failures: list[str] = field(default_factory=list)
    metrics: dict[str, tuple[float, str]] = field(default_factory=dict)
    layer: dict[str, tuple[float, str]] = field(default_factory=dict)
    context: dict = field(default_factory=dict)

    def __post_init__(self) -> None:
        self.tracer = Tracer(self.trace)

    def check(self, what: str, ok: bool) -> None:
        if not ok:
            self.failures.append(what)


def _attrs(df: pd.DataFrame) -> list[str]:
    return [c for c in df.columns if c != "row_id"]


def tail(values: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest nearest-rank percentile with at
    least ten samples above it; the maximum when there are ten or fewer."""
    xs = sorted(values)
    n = len(xs)
    if n <= 10:
        return 100.0, xs[-1]
    rank = n - 10  # 1-based rank of the sample with ten above it
    return 100.0 * rank / n, xs[rank - 1]


def _cpu_times() -> tuple[int, int]:
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return vals[7], sum(vals)


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _dir_size(path: Path) -> tuple[int, int]:
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += 1
    return size, files


# ---------------------------------------------------------------- set-up


def start_session(run: Run) -> None:
    from pyspark import SparkContext

    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    with run.tracer.span("session.start"):
        t = time.perf_counter()
        run.spark = get_spark(
            "perfbench",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={run.work / 'tmp'} -XX:-UsePerfData "
                    f"-Xms{HEAP} -XX:+AlwaysPreTouch"
                ),
            },
        )
        run.layer["session.start_s"] = (time.perf_counter() - t, "s")
    run.context["jvm_pid"] = SparkContext._gateway.proc.pid


@contextmanager
def index_build(run: Run):
    """Span and time an index build, with ``build_posting_index``'s calls into
    ``sources.lake.load_table`` timed apart as ``lake.load_s``: the lake
    is timed where the program loads it, not loaded a second time.
    ``index.build_s`` is the rest of the build."""
    inner = index_module.load_table
    loads = []

    def load_table(spark, name, sf_dir):
        with run.tracer.span("lake.load"):
            t = time.perf_counter()
            try:
                return inner(spark, name, sf_dir)
            finally:
                loads.append(time.perf_counter() - t)

    index_module.load_table = load_table
    try:
        with run.tracer.span("index.build"):
            t = time.perf_counter()
            yield
            dt = time.perf_counter() - t
    finally:
        index_module.load_table = inner
    run.layer["lake.load_s"] = (sum(loads), "s")
    run.layer["index.build_s"] = (dt - sum(loads), "s")


def build_index(run: Run):
    with index_build(run):
        idx = cached_posting_index(run.spark, str(run.lake_dir), WIDE_LAKE_TABLES)
    dt = run.layer["lake.load_s"][0] + run.layer["index.build_s"][0]
    postings = idx.count()
    mem = sum(
        i.memSize() + i.diskSize()
        for i in run.spark.sparkContext._jsc.sc().getRDDStorageInfo()
    )
    run.layer["index.postings"] = (postings, "count")
    run.metrics["index_write_p50_s"] = (dt, "s")
    run.metrics["index_postings_per_s"] = (postings / dt, "1/s")
    run.metrics["index_bytes_per_posting"] = (mem / postings, "B")
    return idx


def end_setup(run: Run) -> None:
    run.metrics["setup_s"] = (time.perf_counter() - run.t_setup, "s")
    run.context["setup_parts"] = {k: v for k, (v, _u) in run.layer.items()}
    run.context["steal0"] = _cpu_times()


def finish(run: Run) -> None:
    """Metrics read once the timed window is over."""
    steal0, total0 = run.context.pop("steal0")
    steal1, total1 = _cpu_times()
    run.context["cpu_steal_pct"] = 100.0 * (steal1 - steal0) / max(1, total1 - total0)
    hwm = _vm_hwm_kb(run.context["jvm_pid"]) + _vm_hwm_kb("self")
    run.metrics["peak_rss_mb"] = (hwm / 1024.0, "MB")


# ---------------------------------------------------------------- requests


@dataclass
class Answer:
    latency: float
    tables: list
    columns: list
    rid: str


def _rows(rows) -> list[tuple]:
    return [tuple(r) for r in rows]


def _no_span(name: str):
    return nullcontext()


def _request(run: Run, rid: str, traced: bool, layer: str, call) -> Answer:
    """Time one request: ``call(span)`` — the program call that returns the
    ``(tables, columns)`` result DataFrames — and the collection of both.
    Traced, planning is forced before execution so the two are timed
    apart, and the request's Spark jobs run under job group ``rid``."""
    if not traced:
        t = time.perf_counter()
        tables, columns = call(_no_span)
        rt, rc = tables.collect(), columns.collect()
        return Answer(time.perf_counter() - t, _rows(rt), _rows(rc), rid)
    tr = run.tracer
    with tr.span("request", rid), job_group(run.spark, rid):
        t = time.perf_counter()
        with tr.span(f"{layer}.plan"):
            tables, columns = call(tr.span)
            executed_plan(tables), executed_plan(columns)
        with tr.span(f"{layer}.exec"):
            rt, rc = tables.collect(), columns.collect()
        lat = time.perf_counter() - t
    run.context.setdefault("exchanges", {})[rid] = exchange_count(tables) + exchange_count(columns)
    return Answer(lat, _rows(rt), _rows(rc), rid)


def search_request(run: Run, index, df: pd.DataFrame, rid: str, traced: bool) -> Answer:
    """One search; the program gets the query table as a DataFrame.
    ``index`` is the posting index, or a function that reads it, which is
    then part of the request."""
    qdf = run.spark.createDataFrame(df)

    def call(span):
        idx = index
        if callable(index):
            with span("index.read"):
                idx = index()
        return multi_attribute_join_search(idx, qdf, _attrs(df))

    return _request(run, rid, traced, "search", call)


def batch_request(run: Run, idx, batch: list[inputs.Request], rid: str, traced: bool) -> Answer:
    """One batch of query tables answered by one batch search."""
    entries = [
        (f"{rid}.{i}", run.spark.createDataFrame(r.table), _attrs(r.table))
        for i, r in enumerate(batch)
    ]
    return _request(
        run, rid, traced, "batch", lambda span: multi_attribute_join_search_batch(idx, entries)
    )


def attempt(run: Run, rid: str, send):
    """``send()`` counted as an attempted operation; None if it raised,
    which counts as a failed one."""
    run.attempted += 1
    try:
        return send()
    except Exception as exc:  # a failed request is counted; the loop goes on
        traceback.print_exc()
        run.failures.append(f"{rid}: {type(exc).__name__}: {exc}"[:300])
        return None


def closed_loop(run: Run, cycle) -> None:
    """Run ``cycle(0)``, ``cycle(1)``, ... until ``run.seconds`` have
    passed or ``cycle`` returns False. Whole cycles only, so every run
    sends the same mix of requests."""
    t0 = time.perf_counter()
    i = 0
    while time.perf_counter() - t0 < run.seconds and cycle(i) is not False:
        i += 1
    run.context["window_s"] = time.perf_counter() - t0


def latency_metrics(run: Run, singles: list[Answer], batches: list[Answer]) -> None:
    lats = [a.latency for a in singles]
    run.context["latencies"] = {a.rid: a.latency for a in singles + batches}
    pct, value = tail(lats)
    run.metrics["search_p50_s"] = (statistics.median(lats), "s")
    run.metrics["search_tail_s"] = (value, "s")
    answered = len(singles) + inputs.BATCH_SIZE * len(batches)
    busy = sum(lats) + sum(a.latency for a in batches)
    run.metrics["queries_per_s"] = (answered / busy, "1/s")
    run.context["search_tail_pct"] = pct
    run.context["search_samples"] = len(lats)


# ---------------------------------------------------------------- per-layer


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0


def span_layer_metrics(run: Run) -> None:
    """Median self time per span name, plus Spark work per request:
    requests ``s*`` are searches, ``b*`` batches."""
    by_name = run.tracer.self_time_by_name()
    for name in (
        "search.plan", "search.exec", "batch.plan", "batch.exec",
        "index.append", "index.read",
    ):
        run.layer[f"{name}_s"] = (_median(by_name.get(name)), "s")
    run.layer["request.self_s"] = (_median(by_name.get("request")), "s")
    wait_for_listeners(run.spark)
    exch = run.context.pop("exchanges", {})
    counts = {
        sp.request: job_counts(run.spark, sp.request)
        for sp in run.tracer.spans
        if sp.name == "request"
    }
    for prefix, layer in (("s", "search"), ("b", "batch")):
        rids = [r for r in counts if r.startswith(prefix)]
        run.layer[f"{layer}.jobs"] = (_median([counts[r][0] for r in rids]), "count")
        run.layer[f"{layer}.exchanges"] = (_median([exch[r] for r in rids]), "count")
        if layer == "search":
            run.layer["search.stages"] = (_median([counts[r][1] for r in rids]), "count")
            run.layer["search.tasks"] = (_median([counts[r][2] for r in rids]), "count")
    run.context["job_counts"] = counts


def phase_metrics(run: Run, idx, df: pd.DataFrame) -> None:
    """The four reference phases of one search, each stage persisted
    before the next is timed so a phase holds only its own work."""
    st = search_stages(idx, run.spark.createDataFrame(df), _attrs(df))
    rows = {}
    cached = []
    with run.tracer.span("phases"):
        for phase, frames in (
            ("import", (st.mappings,)),
            ("probe", (st.probed,)),
            ("join_discovery", (st.matched,)),
            ("scoring", (st.tables, st.columns)),
        ):
            with run.tracer.span(f"search.{phase}"):
                t = time.perf_counter()
                n = 0
                for f in frames:
                    f = f.persist()
                    cached.append(f)
                    n += f.count()
                run.layer[f"search.{phase}_s"] = (time.perf_counter() - t, "s")
            rows[phase] = n
    for f in cached:
        f.unpersist()
    run.layer["search.probed_postings"] = (rows["probe"], "count")
    run.layer["search.matched_rows"] = (rows["join_discovery"], "count")
    run.layer["search.match_yield"] = (rows["join_discovery"] / max(1, rows["probe"]), "ratio")


def overhead_pair(run: Run, index, df: pd.DataFrame) -> None:
    """Tracing overhead: the same search sent untraced, traced, untraced;
    the traced latency minus the mean untraced one. The bracketing
    cancels the JVM's warm-up drift between requests."""
    u0 = search_request(run, index, df, "overhead.untraced0", False).latency
    t = search_request(run, index, df, "overhead.traced", True).latency
    u1 = search_request(run, index, df, "overhead.untraced1", False).latency
    run.context.pop("exchanges", None)
    run.layer["trace.overhead_s"] = (t - (u0 + u1) / 2, "s")


# ---------------------------------------------------------------- workloads


def search(run: Run) -> None:
    """Cycles of SINGLES_PER_CYCLE single searches and one batch of
    BATCH_SIZE over the in-memory wide index."""
    reqs, batches, run.context["input_digest"] = inputs.search_inputs(run.lake, run.seed)
    start_session(run)
    idx = build_index(run)
    with run.tracer.span("warmup"):
        search_request(run, idx, reqs[0].table, "warmup", False)
    end_setup(run)

    singles: list[tuple[inputs.Request, Answer]] = []
    batched: list[tuple[list[inputs.Request], Answer]] = []

    def cycle(i: int) -> None:
        for j in range(SINGLES_PER_CYCLE * i, SINGLES_PER_CYCLE * (i + 1)):
            req = reqs[1 + j % inputs.SEARCH_POOL]
            a = attempt(run, f"s{j}", lambda: search_request(run, idx, req.table, f"s{j}", run.trace))
            if a:
                singles.append((req, a))
        batch = batches[i % inputs.BATCH_POOL]
        a = attempt(run, f"b{i}", lambda: batch_request(run, idx, batch, f"b{i}", run.trace))
        if a:
            batched.append((batch, a))

    closed_loop(run, cycle)
    if run.trace:
        span_layer_metrics(run)
        phase_metrics(run, idx, singles[0][0].table)
        overhead_pair(run, idx, min((r.table for r in reqs), key=len))
    finish(run)
    latency_metrics(run, [a for _r, a in singles], [a for _b, a in batched])

    t_check = time.perf_counter()
    oracle = Oracle(run.lake_dir, [s.name for s in WIDE_LAKE_TABLES])
    oracle.build_index("idx_full", WIDE_LAKE_TABLES)
    for req, a in singles:
        exp = oracle.search("idx_full", req.table, _attrs(req.table))
        run.check(f"{a.rid} {req.kind}", (a.tables, a.columns) == exp)
    for batch, a in batched:
        entries = [(f"{a.rid}.{i}", r.table, _attrs(r.table)) for i, r in enumerate(batch)]
        run.check(f"{a.rid} batch", (a.tables, a.columns) == oracle.search_batch("idx_full", entries))
    if run.trace:
        first = batched[0][0]
        n = oracle.probed_postings("idx_full", [(r.table, _attrs(r.table)) for r in first])
        run.layer["batch.probed_postings"] = (n, "count")
    oracle.close()
    run.context["check_s"] = time.perf_counter() - t_check


def index_ingest(run: Run) -> None:
    """Cycles of one append to a floored store and one search of the
    fresh store."""
    landings, run.context["input_digest"] = inputs.ingest_inputs(run.lake, run.seed)
    for land in landings:  # landing tables live beside the lake, as load_table expects
        land.frame.to_parquet(run.lake_dir / f"{land.name}.parquet", index=False)
    lake, store = str(run.lake_dir), run.work / "store"
    start_session(run)
    spark, tr = run.spark, run.tracer
    with index_build(run):
        write_floored_index(spark, lake, str(store), WIDE_LAKE_TABLES, FLOOR)
    read = lambda: read_floored_index(spark, str(store))  # noqa: E731
    with tr.span("warmup"):
        search_request(run, read, landings[-1].query, "warmup", False)
    end_setup(run)

    appends: list[float] = []
    searched: list[tuple[inputs.Landing, Answer]] = []

    def cycle(i: int) -> bool:
        if i == inputs.LANDING_POOL:
            return False  # each landing table lands once
        land = landings[i]
        spec = TableSpec(land.name, land.table_id, "row_id", tuple(_attrs(land.frame)))

        def append() -> float:
            with tr.span("index.append", f"a{i}"):
                t = time.perf_counter()
                append_floored_index(spark, lake, str(store), (spec,))
                return time.perf_counter() - t

        dt = attempt(run, f"a{i}", append)
        if dt is None:
            return False  # the store's state is unknown: stop landing
        appends.append(dt)
        a = attempt(run, f"s{i}", lambda: search_request(run, read, land.query, f"s{i}", run.trace))
        if a:
            searched.append((land, a))
        return True

    closed_loop(run, cycle)
    if run.trace:
        span_layer_metrics(run)
        phase_metrics(run, read(), searched[-1][0].query)
        overhead_pair(run, read, searched[-1][0].query)
    finish(run)
    latency_metrics(run, [a for _l, a in searched], [])

    t_check = time.perf_counter()
    oracle = Oracle(run.lake_dir, [s.name for s in WIDE_LAKE_TABLES])
    base = oracle.build_index("idx_full", WIDE_LAKE_TABLES)
    specs = WIDE_LAKE_TABLES
    appended = 0
    for land in landings[: len(appends)]:
        oracle.add_table(run.lake_dir, land.name)
        spec = TableSpec(land.name, land.table_id, "row_id", tuple(_attrs(land.frame)))
        specs = specs + (spec,)
        appended += oracle.build_index("idx_landed", (spec,))
        oracle.build_index("idx_floored", specs, FLOOR)
        for done, a in searched:
            if done is land:
                exp = oracle.search("idx_floored", land.query, _attrs(land.query))
                run.check(f"{a.rid} {land.kind.name}", (a.tables, a.columns) == exp)
    run.attempted += 2  # the store is checked as a whole, twice
    run.check("store equals a full floored rebuild", oracle.store_mismatches(store, "idx_floored") == 0)
    oracle.close()
    fsck = fsck_floored_store(spark, str(store))
    clean = ("double_represented_keys", "subfloor_in_index", "overfloor_in_residual", "duplicate_postings")
    run.check(f"fsck {fsck}", fsck["pending_commit"] is None and all(fsck[k] == 0 for k in clean))
    run.context["check_s"] = time.perf_counter() - t_check
    size, files = _dir_size(store)
    run.metrics["index_write_p50_s"] = (statistics.median(appends), "s")
    run.metrics["index_postings_per_s"] = (appended / sum(appends), "1/s")
    run.metrics["index_bytes_per_posting"] = (size / (base + appended), "B")
    run.layer["index.postings"] = (base, "count")
    run.layer["index.append_postings"] = (appended / len(appends), "count")
    run.layer["index.store_bytes"] = (size, "B")
    run.layer["index.store_files"] = (files, "count")


WORKLOADS = {"search": search, "index_ingest": index_ingest}
